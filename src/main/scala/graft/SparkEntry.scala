package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Behavior, HeavyHitters, Linkage, Maintenance, MaskAlgebra, Relational, Skew, SlicePipeline, Stencil}
import graft.functions.{Dedup, Multimodal, Similarity, Sketches, TextAnalysis}
import graft.GraftCaches.Persistable
import graft.kernels.{ImageOps, RegionGrowing}
import graft.sources.{Tables, Tabular}
import graft.streaming.{EventStreams, IngestServing}

/** Driver contract — named queries + DuckDB oracle SQL (SURVEY.md §5/§7).
  *
  * Conventions that keep the driver's hash-compare green:
  *  - every query ends in an explicit ORDER BY with full tie-breaks;
  *  - aggregate/computed columns are aliased identically in the Spark code
  *    and the SQL;
  *  - double-typed outputs are rounded to 6 decimals on BOTH sides (raw
  *    double aggregates can differ at ~1e-12 relative between engines from
  *    accumulation order);
  *  - `events.ts` is TIMESTAMP(NANOS) parquet: Spark reads it via
  *    nanosAsLong + µs truncation (Tables.events), DuckDB via
  *    CAST(ts AS TIMESTAMP) — both truncate identically.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the README's
    * analytic shape (`/root/reference/README.md:167-172`) — per-group mean
    * intensity stand-in, top-50. */
  def entry(spark: SparkSession): DataFrame =
    q("h1_topk_avg")(spark, "/root/testdata/sf0.001")

  // Fixture-writing queries (sinks, blob fetch, mixed-format loader) each
  // need a fresh scratch directory per invocation — fresh because their
  // semantics depend on starting empty (exactly-two appends, exact file
  // sets). One JVM shutdown hook sweeps them all so repeated bench /
  // correctness runs don't leak disk.
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val scratchHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      scratchDirs.forEach(p => rm(p.toFile))
    }))
    true
  }
  private def scratchDir(prefix: String): java.nio.file.Path = {
    require(scratchHookInstalled)
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p
  }

  /** Committed golden-fixture parquet directory: `<working dir>/fixtures`
    * (sbt runs from the repo root), overridable via `-Dgraft.fixtures.dir`
    * for out-of-tree checkouts. */
  private def fixturesDir: String =
    sys.props.get("graft.fixtures.dir").getOrElse(
      new java.io.File(sys.props("user.dir"), "fixtures").getAbsolutePath)

  private def q(name: String): (SparkSession, String) => DataFrame = queries(name)

  /** Save path of a `kind` roundtrip gate's saved index (`ivfpq`,
    * `dedup`, `emb`, `phash`): keyed by PID (two harness processes must
    * not race on one directory) and by the sf-dir (a process verifying
    * one SF then benching another must not serve the stale index).
    * Registered with the shutdown sweep: without cleanup the dirs
    * accumulate across runs, and after PID reuse a stale dir from an
    * OLDER BUILD would be silently served instead of re-saved — a format
    * change would then surface as a confusing roundtrip-gate failure
    * rather than a fresh save. */
  private def savedPath(kind: String, sfDir: String): String = {
    require(scratchHookInstalled)
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_index_rt_${ProcessHandle.current().pid()}_" +
        (sfDir.hashCode & 0x7fffffff).toString)
    scratchDirs.add(f.toPath)
    f.getAbsolutePath
  }

  /** BENCH SETUP PHASE — runs once before the timed query loop, each
    * entry timed and reported under `setup` in the bench JSON (never
    * mixed into the per-query lines). Two jobs:
    *
    *  - `vector_path_warmup`: a 64-vector brute-force top-k exercises the
    *    broadcast-NLJ + codegen-cosine + k-bounded-aggregator classes, so
    *    the first HEAVY vector query (name-sorted: ann_cosine_topk) stops
    *    absorbing their one-time JIT/codegen cost — the round-6 bench
    *    recorded 3.85s vs 1.22s for the identical audited plan depending
    *    on what had run before it.
    *  - `ann_*_index_build`: trains the IVF-PQ, IVF, and PQ indexes at
    *    the gates' exact parameters through the build-once memos,
    *    mirroring production's offline-build/online-serve split. The ANN
    *    query lines then measure SERVING; each build cost stays visible
    *    as its own setup line instead of silently inflating whichever
    *    ANN query runs first.
    */
  def benchSetup: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "vector_path_warmup" -> ((s: SparkSession, dir: String) => {
      val emb = Tables.embeddings(s, dir).limit(64)
      Similarity.cosineTopK(emb.filter(col("vec_id") % 8 === 0), emb, 3)
        .write.format("noop").mode("overwrite").save()
      GraftCaches.unpersistAll(blocking = true)
    }),
    "ann_ivfpq_index_build" -> ((s: SparkSession, dir: String) => {
      Similarity.ivfPqIndexFor(Tables.embeddings(s, dir),
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      GraftCaches.unpersistAll(blocking = true) // build-scoped working caches
      ()
    }),
    "ann_ivf_index_build" -> ((s: SparkSession, dir: String) => {
      Similarity.ivfIndexFor(Tables.embeddings(s, dir),
        nCentroids = 16, lloydIters = 1)
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    "ann_pq_index_build" -> ((s: SparkSession, dir: String) => {
      Similarity.pqIndexFor(Tables.embeddings(s, dir),
        m = 8, ksub = 16, lloydIters = 1)
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // the append gate's BASE index (trained on the 80% split) — built
    // here so the gate's bench line measures append+serve, not a hidden
    // training run absorbed by whichever timeOnce goes first
    "ann_append_base_build" -> ((s: SparkSession, dir: String) => {
      Similarity.ivfPqIndexFor(
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0),
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // scale-adaptive geometry build (nCentroids ≈ √N, sampled training) —
    // the ann_auto_geometry line then measures serving at the derived
    // operating point
    "ann_auto_index_build" -> ((s: SparkSession, dir: String) => {
      Similarity.ivfPqAutoIndexFor(Tables.embeddings(s, dir))
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // the no-fire gate's RIGHT-SIZED standing index (auto geometry over
    // the 80% split) — the ingest_pipeline_nofire line then measures
    // append + policy-evaluate + serve, the routine-day shape
    "ann_auto_base_build" -> ((s: SparkSession, dir: String) => {
      Similarity.ivfPqAutoIndexFor(
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0))
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // the warm-rebuild gate's standing index (auto geometry over the 50%
    // split) — the ann_warm_rebuild line then measures append + warm
    // fire-day + serve, the drift-day shape
    "ann_warm_base_build" -> ((s: SparkSession, dir: String) => {
      Similarity.ivfPqAutoIndexFor(
        Tables.embeddings(s, dir).filter(col("vec_id") % 2 === 1))
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // standing dedup index over the 80% corpus split — the
    // minhash_incremental line then measures batch staging + bucket joins
    // only, the daily-ingest shape
    "dedup_index_build" -> ((s: SparkSession, dir: String) => {
      Dedup.dedupIndexFor(
        Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    "emb_index_build" -> ((s: SparkSession, dir: String) => {
      Dedup.embIndexFor(
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 4)
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // the rebuild-policy gate's LEGACY catalog (8 bands × 4 rows — a
    // banding built for a smaller corpus era) — built here so the gate's
    // line measures policy-evaluate + re-band + incremental serve, not a
    // hidden corpus staging run
    "dedup_legacy_build" -> ((s: SparkSession, dir: String) => {
      Dedup.dedupIndexFor(
        Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 8, shingleK = 3)
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // the embedding-catalog rebuild-policy gate's LEGACY catalog (2
    // planes — a bucketing built for a ≤128-vector corpus era)
    "emb_legacy_build" -> ((s: SparkSession, dir: String) => {
      Dedup.embIndexFor(
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 2)
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // the embedding compaction-policy gate's BASE catalog (the % 7 ≠ 0
    // split the gate then appends onto)
    "emb_base_build" -> ((s: SparkSession, dir: String) => {
      Dedup.embIndexFor(
        Tables.embeddings(s, dir)
          .filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 4)
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // parquet save of the standing embedding catalog (build resolves
    // through the memo): the embdedup_index_roundtrip line then measures
    // LOAD + incremental serve with the one-time save cost attributed here
    "emb_index_save" -> ((s: SparkSession, dir: String) => {
      val path = savedPath("emb", dir)
      if (!new java.io.File(path, "meta").isDirectory) {
        Dedup.embIndexFor(
            Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0),
            col("vec_id"), col("embedding"), nPlanes = 4).save(path)
      }
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // parquet save of the roundtrip gate's index (build resolves through
    // the memo — already trained above): the ann_index_roundtrip query
    // line then measures LOAD+SERVE, the serving-job shape, with the
    // one-time save cost attributed here
    "ann_index_save" -> ((s: SparkSession, dir: String) => {
      val path = savedPath("ivfpq", dir)
      if (!new java.io.File(path, "meta").isDirectory) {
        Similarity.ivfPqIndexFor(Tables.embeddings(s, dir),
            nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1).save(path)
      }
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // parquet save of the standing dedup catalog (build resolves through
    // the memo — already built above): the dedup_index_roundtrip query
    // line then measures LOAD + incremental serve, the cross-session
    // ingest-job shape, with the one-time save cost attributed here
    "dedup_index_save" -> ((s: SparkSession, dir: String) => {
      val path = savedPath("dedup", dir)
      if (!new java.io.File(path, "meta").isDirectory) {
        Dedup.dedupIndexFor(
            Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0),
            col("doc_id"), col("text"), numHashes = 32, nBands = 16,
            shingleK = 3).save(path)
      }
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // the synthetic PNG corpus the image-dedup gates read (build resolves
    // through the media memo): PNG ENCODE throughput is this setup line;
    // the mm_phash_* query lines then measure the dedup operator itself
    // (decode → hash → band → verify), mirroring production's
    // ingest-once/dedup-many split
    "mm_media_corpus_build" -> ((s: SparkSession, dir: String) => {
      Multimodal.syntheticMediaFor(
        Tables.documents(s, dir).select(col("doc_id")))
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // the standing phash catalog over the 80% media split (decode+hash
    // once, offline): the phash_incremental line then measures the
    // daily-ingest serve — batch decode + band joins — not the corpus
    // decode
    "phash_index_build" -> ((s: SparkSession, dir: String) => {
      Multimodal.phashIndexFor(
        Multimodal.syntheticMediaFor(
          Tables.documents(s, dir).select(col("doc_id")))
          .filter(col("media_id") % 5 =!= 0))
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // parquet save of the standing phash catalog (build resolves through
    // the memo — already decoded above): the phash_index_roundtrip line
    // then measures LOAD + incremental serve — the cross-session image
    // ingest job, which must never re-pay the corpus decode — with the
    // one-time save cost attributed here
    "phash_index_save" -> ((s: SparkSession, dir: String) => {
      val path = savedPath("phash", dir)
      if (!new java.io.File(path, "hashes").isDirectory) {
        Multimodal.phashIndexFor(
            Multimodal.syntheticMediaFor(
              Tables.documents(s, dir).select(col("doc_id")))
              .filter(col("media_id") % 5 =!= 0)).save(path)
      }
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // the frame-concatenated video corpus the frame-dedup gates read
    // (PNG ENCODE + container assembly is ingest, not the operator):
    // mm_frame_* lines then measure split → decode → hash → band → verify
    "mm_video_corpus_build" -> ((s: SparkSession, dir: String) => {
      Multimodal.syntheticVideoFor(
        Tables.documents(s, dir).select(col("doc_id")))
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // the standing frame catalog over the 80% video split (split +
    // decode + hash once, offline): the mm_frame_neardups line then
    // measures the daily-ingest serve — batch split/decode + band joins
    "frame_index_build" -> ((s: SparkSession, dir: String) => {
      // splitPngFramesFor — the SAME stable plan mm_frame_neardups keys
      // its catalog lookup with (see that gate)
      Multimodal.phashIndexFor(
        Multimodal.splitPngFramesFor(
          Multimodal.syntheticVideoFor(
            Tables.documents(s, dir).select(col("doc_id")))
            .filter(col("media_id") % 5 =!= 0))
          .select(col("frame_id").as("media_id"), col("payload")))
      GraftCaches.unpersistAll(blocking = true)
      ()
    }),
    // the FULL-corpus frame catalog behind mm_frame_pairs_catalog: the
    // split+decode+hash pass runs once offline; the catalog audit line
    // then measures band+verify over standing hashes — the 100 TB shape
    // of a full-run audit (mm_frame_pairs keeps pricing the cold path)
    "frame_catalog_build" -> ((s: SparkSession, dir: String) => {
      Multimodal.phashIndexFor(fullFrameCorpus(s, dir))
      GraftCaches.unpersistAll(blocking = true)
      ()
    }))

  /** The FULL-corpus frame stream behind `frame_catalog_build` /
    * `mm_frame_pairs_catalog`. The trailing always-true filter is the
    * [[GraftCaches.persistedArtifactFresh]] plan-identity trick, load-
    * bearing here: without it the catalog's cached hash frame would
    * canonically MATCH the `mm_frame_pairs` cold gate's own in-query
    * decode+hash subtree, and CacheManager would silently serve the cold
    * gate's decode from the setup artifact — the cold gate must keep
    * paying (and pricing) the full split+decode it claims to measure. */
  private def fullFrameCorpus(s: SparkSession, dir: String): DataFrame =
    Multimodal.splitPngFramesFor(
      Multimodal.syntheticVideoFor(
        Tables.documents(s, dir).select(col("doc_id"))))
      .select(col("frame_id").as("media_id"), col("payload"))
      .where(lit(true))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------------------------------------------------------
    // E1/E2/E4 + H1 — pricing-summary aggregate over lineitem:
    // mean (E1), population stddev (E2, np.std ddof=0), counts (E4).
    "q1_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(38,4)"), 2).cast("double").as("revenue"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          round(stddev_pop(col("l_quantity")), 6).as("std_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---------------------------------------------------------------
    // K — the SQL surface of the Catalyst extensions: a pure `spark.sql`
    // text query calling the registered graft functions (graft_window is
    // also LOWERED by the optimizer rule since its bounds are literals;
    // graft_rolling_hash runs the codegen byte-walk). The oracle
    // re-derives both from first principles in DuckDB.
    "sql_graft_functions" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      Relational.syntheticImage(s, 64, 64).createOrReplaceTempView("graft_px_sql")
      s.sql("""SELECT y, x,
        graft_window(CAST(v AS DOUBLE), CAST(100.0 AS DOUBLE), CAST(80.0 AS DOUBLE)) AS v_windowed,
        graft_rolling_hash(CAST(v AS STRING)) AS v_fp
        FROM graft_px_sql ORDER BY y, x""")
    }),

    // ---------------------------------------------------------------
    // H — latest-3 events PER USER through the custom plan node with a
    // TIMESTAMP ordering and multiple payload columns: the generic
    // "last-n per key" query every session store runs, and proof the
    // operator is not tied to ANN scoring. Map-side k-bound again means
    // at most 3 rows per (user, partition) reach the exchange — a window
    // would shuffle every event.
    "h5_latest_per_user" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val ev = Tables.events(s, dir).filter(col("user_id") % 10 === 0)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      graft.plans.TopKPerKey.topKPerKey(ev,
          keyCols = Seq("user_id"), orderBy = Seq(("ts", false), ("event_id", false)), k = 3)
        .select(col("user_id"), col("rank"), col("event_id"), col("event_type"))
        .orderBy(col("user_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // E — hierarchical totals via ROLLUP: (flag, status), per-flag, and
    // grand total in ONE pass (Expand + partial aggregation — map-side
    // combine still applies to every grouping set; no second scan).
    "j2_rollup_revenue" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(38,4)"), 2).cast("double").as("revenue"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // ---------------------------------------------------------------
    // H1 — top-k by aggregate (README flagship shape).
    "h1_topk_avg" -> ((s, dir) => {
      Relational.topKByAvg(Tables.events(s, dir), col("user_id"), col("value"), 50, "avg_value")
        .withColumn("avg_value", round(col("avg_value"), 6))
    }),

    // ---------------------------------------------------------------
    // H2 — latest-n by timestamp.
    "h2_latest_events" -> ((s, dir) => {
      Relational.latestN(
        Tables.events(s, dir).select(col("event_id"), col("ts"), col("event_type"), col("value")),
        col("ts"), col("event_id"), 20)
    }),

    // ---------------------------------------------------------------
    // A5/C2/C6/H3 — listing with suffix filter + limit.
    "h3_listing" -> ((s, dir) => {
      Tables.documents(s, dir)
        .filter(lower(col("source")).endsWith("1"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
        .limit(50)
    }),

    // ---------------------------------------------------------------
    // C1/D6/D9 — the DoFn's metadata projection over events:
    // ''→NULL coercion, sha256[0:16] identity hash, derived output URI.
    "c1_metadata_projection" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        concat(lit("evt_"), col("event_id"), lit(".dcm")).as("file_name"),
        Relational.patientIdHash(col("user_id").cast("string")).as("patient_id_hash"),
        Relational.nullifEmpty(col("props")).as("props_nn"),
        Relational.nullifEmpty(col("event_type")).as("event_type_nn"),
        Relational.derivedUri("out/processed",
          concat(lit("evt_"), col("event_id"), lit(".dcm"))).as("gcs_uri_processed"))
        .orderBy(col("event_id"))
    }),

    // ---------------------------------------------------------------
    // D1 + D5/E8 — intensity windowing with literal wc/ww, plus the
    // min-max-normalize fallback computed per event_type group.
    "d1_windowing" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"), col("event_type"), col("value"),
        Relational.windowIntensity(col("value"), lit(100.0), lit(80.0)).as("v_windowed"),
        Relational.minMaxNormalize(col("value"), col("event_type")).as("v_normalized"))
        .orderBy(col("event_id"))
    }),

    // ---------------------------------------------------------------
    // D1 via the custom Catalyst expression (graft.plans.GraftWindowIntensity,
    // codegen'd; the LowerGraftWindow rule folds literal bounds) — must
    // match d1_windowing's v_windowed column exactly.
    "d1_windowing_expr" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      Tables.events(s, dir).select(col("event_id"), col("value"),
        expr("graft_window(CAST(value AS DOUBLE), CAST(100 AS DOUBLE), CAST(80 AS DOUBLE))")
          .as("v_windowed"))
        .orderBy(col("event_id"))
    }),

    // ---------------------------------------------------------------
    // D1 preprocessor variant — integer ww//2 halving (preprocessor.py:
    // 151-152, inconsistent with the pipeline's /2.0; both preserved).
    // Odd ww=81 makes the divergence observable.
    "d1_windowing_intww" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"), col("value"),
        Relational.windowIntensity(col("value"), lit(100.0), lit(81.0)).as("v_pipeline"),
        Relational.windowIntensityIntWw(col("value"), lit(100.0), lit(81.0)).as("v_preproc"))
        .orderBy(col("event_id"))
    }),

    // ---------------------------------------------------------------
    // M5 — dense-image kernel chain (D2 CLAHE → D3 blur → D12 Sobel) over
    // array-column images, per-image stats via the wide→long Generator
    // (§2.K). Kernel outputs have no closed SQL form — gated vs committed
    // golden fixture; kernels also golden-tested in KernelsSpec.
    "m5_dense_kernels" -> ((s, dir) => {
      val dense = ImageOps.syntheticDense(s, 16, 32, 32)
        .withColumn("img", ImageOps.claheU8(col("img"), col("h"), col("w")))
        .withColumn("img", ImageOps.gaussianBlurU8(col("img"), col("h"), col("w"), lit(0.5)))
        .withColumn("img", ImageOps.sobelU8(col("img"), col("h"), col("w")))
      ImageOps.explodeToLong(dense)
        .groupBy(col("image_id"))
        .agg(count(lit(1)).as("n_pixels"),
          round(avg(col("v")), 6).as("mean_v"), max(col("v")).as("max_v"))
        .orderBy(col("image_id"))
    }),

    // ---------------------------------------------------------------
    // G2 dense — adaptive region growing per image (UDF kernel), then
    // relational mask metrics over the exploded mask (area, exact contour
    // perimeter E15, circularity E16). Gated vs committed golden fixture.
    "g2_dense_segment" -> ((s, dir) => {
      ImageOps.syntheticDense(s, 16, 32, 32)
        .withColumn("mask", ImageOps.regionGrowAdaptive(
          col("img"), col("h"), col("w"),
          (lit(16) + col("image_id") % 5).cast("int"),
          (lit(16) - col("image_id") % 7).cast("int")))
        .withColumn("perimeter", ImageOps.perimeterUdf(col("mask"), col("h"), col("w")))
        .select(col("image_id"),
          expr("aggregate(mask, 0L, (a, v) -> a + v)").as("area"),
          round(col("perimeter"), 6).as("perimeter"))
        .withColumn("circularity",
          round(MaskAlgebra.circularity(col("area"), col("perimeter")), 6))
        .orderBy(col("image_id"))
    }),

    // ---------------------------------------------------------------
    // E13 — BF score no-GT fallback per image (Sobel → Butterworth →
    // Σ/(n·255)), dense-kernel path; fixture-gated (FFT kernel outputs
    // have no SQL form; formula also golden-tested in KernelsSpec).
    "e13_bf_score" -> ((s, dir) => {
      ImageOps.syntheticDense(s, 16, 32, 32)
        .withColumn("mask", ImageOps.regionGrowAdaptive(
          col("img"), col("h"), col("w"),
          (lit(16) + col("image_id") % 5).cast("int"),
          (lit(16) - col("image_id") % 7).cast("int")))
        .select(col("image_id"),
          round(ImageOps.bfScoreUdf(col("mask"), col("h"), col("w")), 6).as("bf_score"))
        .orderBy(col("image_id"))
    }),

    // ---------------------------------------------------------------
    // E3 — 50-bin histogram (numpy semantics: last bin closed).
    "e3_histogram" -> ((s, dir) => {
      Relational.histogramAuto(Tables.lineitem(s, dir), col("l_extendedprice"), 50)
    }),

    // ---------------------------------------------------------------
    // E3 (image context, app.py:185-208): 50-bin histograms over the FULL
    // image and over the SEGMENTED REGION in one grouped pass.
    "e3_histogram_mask" -> ((s, dir) => {
      val img = Relational.syntheticImage(s, 64, 64)
        .withColumn("in_mask", col("v") >= 160)
      img.select(col("v"), col("in_mask"),
          Relational.histogramBin(col("v"), lit(0.0), lit(255.0), 50).as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_full"),
          sum(when(col("in_mask"), 1L).otherwise(0L)).as("n_region"))
        .orderBy(col("bin"))
    }),

    // ---------------------------------------------------------------
    // §3.3 — the README's BigQuery analytic surface as NATIVE spark.sql
    // text over the pipeline's slice table (README.md:167-172 shape).
    "sql_flagship_readme" -> ((s, dir) => {
      SlicePipeline.run(s, 200).toDF().createOrReplaceTempView("processed_images")
      s.sql(
        """SELECT study_uid,
          |  ROUND(AVG(window_center), 6) AS avg_wc,
          |  COUNT(*) AS n_images
          |FROM processed_images
          |GROUP BY study_uid
          |ORDER BY avg_wc DESC, study_uid
          |LIMIT 50""".stripMargin)
    }),

    // ---------------------------------------------------------------
    // E5/H4 — argmax with row-major first-occurrence tie-break, on a
    // deterministic synthetic image (range-generated, same in DuckDB).
    "e5_argmax" -> ((s, dir) => {
      val img = Relational.syntheticImage(s, 64, 64)
      Relational.argmaxPixel(img, col("v"), col("y"), col("x"))
    }),

    // ---------------------------------------------------------------
    // E6/E7/E9 + F1-F3 — full confusion metrics in one aggregate pass,
    // masks as indicator columns derived from lineitem predicates.
    "mask_confusion_lineitem" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          (col("l_discount") > 0.05).as("p"), (col("l_tax") > 0.03).as("g"))
      MaskAlgebra.confusionMetrics(li, Seq(col("l_returnflag")), col("p"), col("g"))
        .select(col("l_returnflag"), col("tp"), col("fn"), col("fp"), col("tn"),
          col("area_p"), col("area_g"),
          round(col("dice"), 6).as("dice"),
          round(col("jaccard"), 6).as("jaccard"),
          round(col("sensitivity"), 6).as("sensitivity"),
          round(col("specificity"), 6).as("specificity"))
        .orderBy(col("l_returnflag"))
    }),

    // ---------------------------------------------------------------
    // F1 — mask intersection as an inner equi-join of coordinate sets.
    "f1_intersect_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val pred = li.filter(col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      val gt = li.filter(col("l_tax") > 0.03)
        .select(col("l_orderkey"), col("l_linenumber"))
      pred.join(gt, Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_intersect"))
        .orderBy(col("l_returnflag"))
    }),

    // ---------------------------------------------------------------
    // F3 — mask difference (pred ∖ gt) as an anti-join.
    // Perf note (r5→r6): the r5 full-bench reading of 1.49 s at sf0.1 was
    // run contention, not a plan change — nothing here changed in r5, and
    // an isolated min-of-2 bench reproduces 0.92 s twice (bit-identical
    // timings). Plan is the one you'd want: both filters push to the scan,
    // hash anti-join on the (orderkey, linenumber) key.
    "f3_diff_antijoin" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val pred = li.filter(col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      val gt = li.filter(col("l_tax") > 0.03)
        .select(col("l_orderkey"), col("l_linenumber"))
      pred.join(gt, Seq("l_orderkey", "l_linenumber"), "left_anti")
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_only_pred"))
        .orderBy(col("l_returnflag"))
    }),

    // ---------------------------------------------------------------
    // E15(relational)/E16 — boundary-pixel perimeter measure + circularity
    // on synthetic masks, one mask per group row-band.
    "e15_boundary_circularity" -> ((s, dir) => {
      val img = Relational.syntheticImage(s, 64, 64)
        .withColumn("image_id", expr("y div 16"))
      val mask = img.filter(col("v") >= 128)
        .select(col("image_id"), col("y"), col("x"))
      val area = mask.groupBy(col("image_id")).agg(count(lit(1)).as("area"))
      val boundary = MaskAlgebra.boundaryPixels(mask, "image_id", "y", "x")
        .groupBy(col("image_id")).agg(count(lit(1)).as("perimeter_px"))
      area.join(boundary, Seq("image_id"), "left")
        .na.fill(0L, Seq("perimeter_px"))
        .withColumn("circularity",
          round(MaskAlgebra.circularity(col("area"), col("perimeter_px")), 6))
        .orderBy(col("image_id"))
    }),

    // ---------------------------------------------------------------
    // E10/E11 — masked means + tumor-probability score; perimeter from the
    // boundary-pixel measure (documented relational stand-in for E15).
    "e11_tumor_probability" -> ((s, dir) => {
      val img = Relational.syntheticImage(s, 64, 64)
        .withColumn("image_id", expr("y div 16"))
        .withColumn("in_mask", col("v") >= 200)
      val mask = img.filter(col("in_mask")).select(col("image_id"), col("y"), col("x"))
      val perim = MaskAlgebra.boundaryPixels(mask, "image_id", "y", "x")
        .groupBy(col("image_id")).agg(count(lit(1)).cast("double").as("perimeter"))
      val withPerim = img.join(broadcast(perim), Seq("image_id"), "left")
        .na.fill(0.0, Seq("perimeter"))
      MaskAlgebra.tumorProbability(withPerim, Seq(col("image_id")), col("v"),
          col("in_mask"), col("perimeter"))
        .select(col("image_id"), col("tumor_area"), col("n_pixels"),
          round(col("tumor_mean"), 6).as("tumor_mean"),
          round(col("non_tumor_mean"), 6).as("non_tumor_mean"),
          round(col("contrast_ratio"), 6).as("contrast_ratio"),
          round(col("size_ratio"), 6).as("size_ratio"),
          round(col("compactness"), 6).as("compactness"),
          round(col("probability"), 6).as("probability"))
        .orderBy(col("image_id"))
    }),

    // ---------------------------------------------------------------
    // E14 — moments-based region properties (eccentricity, axes).
    "e14_region_ellipse" -> ((s, dir) => {
      val mask = Relational.syntheticImage(s, 64, 64)
        .withColumn("image_id", expr("y div 16"))
        .filter(col("v") >= 128)
      MaskAlgebra.regionEllipse(mask, Seq(col("image_id")), col("y"), col("x"))
        .select(col("image_id"), col("area"),
          round(col("cy"), 6).as("cy"), round(col("cx"), 6).as("cx"),
          round(col("l1"), 6).as("l1"), round(col("l2"), 6).as("l2"),
          round(col("major_axis_length"), 6).as("major_axis_length"),
          round(col("minor_axis_length"), 6).as("minor_axis_length"),
          round(col("eccentricity"), 6).as("eccentricity"))
        .orderBy(col("image_id"))
    }),

    // ---------------------------------------------------------------
    // D4 — RGB→grayscale weighted channel sum on synthetic RGB.
    "d4_grayscale" -> ((s, dir) => {
      s.range(4096).select(
        col("id"),
        (col("id") % 256).as("r"),
        ((col("id") * 3) % 256).as("g"),
        ((col("id") * 5) % 256).as("b"))
        .withColumn("gray", Relational.grayscale(col("r"), col("g"), col("b")))
        .orderBy(col("id"))
    }),

    // ---------------------------------------------------------------
    // D10/D13 — overlay blend (additive saturating) via left join with a
    // mask coordinate set + binarize.
    "d10_overlay" -> ((s, dir) => {
      val img = Relational.syntheticImage(s, 64, 64)
      val mask = img.filter(col("v") >= 220).select(col("y"), col("x"), lit(1).as("m"))
      img.join(broadcast(mask), Seq("y", "x"), "left")
        .withColumn("in_mask", col("m").isNotNull)
        .select(col("y"), col("x"), col("v"),
          Relational.overlayChannel(col("v"), col("in_mask"), 255.0, 0.5).as("v_overlay"),
          Relational.binarize255(when(col("in_mask"), 1).otherwise(0)).as("mask255"))
        .orderBy(col("y"), col("x"))
    }),

    // ---------------------------------------------------------------
    // J1 — multi-table analytic join (the §2.F "free from Spark" surface
    // as a named query): revenue per nation, dims broadcast, fact table
    // never shuffled before aggregation.
    "j1_revenue_by_nation" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val nat = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val reg = Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))
      li.select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("rev")).cast("decimal(38,4)"), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // ---------------------------------------------------------------
    // North-star: embedding-cosine near-duplicate pairs via hyperplane-LSH
    // buckets (fixture-gated: bucket hashing is engine-specific), at the
    // SCALE-ADAPTIVE plane count (Dedup.autoPlanes — bucket occupancy held
    // at a constant target, so in-bucket verify is linear per decade
    // instead of the pinned-p quadratic that measured exp 0.98 at ×100).
    // At gate scale the derivation resolves to exactly the committed
    // nPlanes=4 geometry, so the committed fixture stays the oracle —
    // the dedup_auto_banding trick on the embedding tier.
    "embedding_neardups" -> ((s, dir) => {
      // synthetic random embeddings top out near cos 0.46 — 0.3 keeps the
      // candidate-verify path non-trivially exercised
      Dedup.embeddingNearDupsAuto(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding"), threshold = 0.3)
        .orderBy(col("id1"), col("id2"))
    }),

    // INCREMENTAL embedding near-dup — the batch-vs-standing-catalog form
    // (Dedup.incrementalEmbeddingNearDups), completing the incremental
    // story across all three near-dup modalities: the standing catalog
    // (vec_id % 5 ≠ 0, build-once via the memo — its build is the
    // emb_index_build setup line) holds per-vector precomputed hyperplane
    // buckets, and the batch pays only its own bucketing plus bucket
    // equi-joins — never a corpus re-bucket. CLOSED-FORM ORACLE:
    // per-vector bucket rows make incremental ≡ the committed full-run
    // fixture restricted to batch-touching pairs — the
    // minhash_incremental logic on the semantic tier.
    "embdedup_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = Dedup.embIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 4)
      Dedup.incrementalEmbeddingNearDups(index,
          emb.filter(col("vec_id") % 5 === 0),
          col("vec_id"), col("embedding"), threshold = 0.3)
        .orderBy(col("id1"), col("id2"))
    }),

    // RETENTION DELETE on the embedding catalog — the same verb as the
    // other two standing families (broadcast anti-join, idempotent on
    // absent ids): standing docs with vec_id % 7 == 0 leave, then the
    // standard batch serves against the shrunk catalog. Per-vector rows
    // make remove ≡ fresh build on corpus∖removed, so the pair set is
    // the full-run fixture restricted to batch-touching pairs with no
    // removed standing endpoint (5 pairs vanish at sf0.01 — the removal
    // genuinely engages).
    "embdedup_index_remove" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = Dedup.embIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 4)
      val shrunk = index.remove(
        emb.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 === 0)
          .select(col("vec_id")))
      Dedup.incrementalEmbeddingNearDups(shrunk,
          emb.filter(col("vec_id") % 5 === 0),
          col("vec_id"), col("embedding"), threshold = 0.3)
        .orderBy(col("id1"), col("id2"))
    }),

    // HEALTH of the embedding catalog — the detector that drives the
    // plane-count / hot-bucket decision (Dedup.embIndexHealth), mirroring
    // dedup_index_health on the semantic tier. Serving-pure against the
    // memoized standing catalog; fixture-gated (bucket hashing is
    // engine-specific, integers partition-independent).
    "embdedup_index_health" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = Dedup.embIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 4)
      Dedup.embIndexHealth(index)
        .orderBy(col("metric"), col("key"))
    }),

    // COMPACTION of the embedding catalog at its bucket probe key —
    // content untouched and pair sets partition-independent, so
    // remove→compact→serve reuses the remove restriction oracle verbatim.
    "embdedup_index_compact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = Dedup.embIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 4)
      val shrunk = index.remove(
        emb.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 === 0)
          .select(col("vec_id")))
      val compacted = shrunk.compact()
      Dedup.incrementalEmbeddingNearDups(compacted,
          emb.filter(col("vec_id") % 5 === 0),
          col("vec_id"), col("embedding"), threshold = 0.3)
        .orderBy(col("id1"), col("id2"))
    }),

    // EMBEDDING CATALOG ROUNDTRIP — parquet save→load of the standing
    // catalog, completing the cross-session artifact lifecycle across
    // all three standing families (dedup_index_roundtrip /
    // ann_index_roundtrip symmetry): the save is the bench-setup
    // `emb_index_save` line; this query LOADS the catalog into fresh
    // artifact frames and serves the standard incremental batch.
    // CLOSED-FORM ORACLE: doubles and the bucket long are storage-exact
    // and the joins order-independent, so loaded-serving ≡ built-serving
    // — the embdedup_incremental restriction oracle verbatim.
    "embdedup_index_roundtrip" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val path = savedPath("emb", dir)
      if (!new java.io.File(path, "meta").isDirectory) {
        Dedup.embIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
            col("vec_id"), col("embedding"), nPlanes = 4).save(path)
      }
      val loaded = Dedup.EmbIndex.load(s, path)
      Dedup.incrementalEmbeddingNearDups(loaded,
          emb.filter(col("vec_id") % 5 === 0),
          col("vec_id"), col("embedding"), threshold = 0.3)
        .orderBy(col("id1"), col("id2"))
    }),

    // PLANE REBUILD POLICY on the embedding catalog — the third standing
    // structure gets the banding-drift loop the other two have
    // (dedup_rebuild_policy / ann_rebuild_policy symmetry): a LEGACY
    // catalog (2 planes, a bucketing for a ≤128-vector era; bench-setup
    // `emb_legacy_build`) is judged against autoPlanes of its CURRENT
    // count (400 standing vectors at sf0.01 → 4), fires, and re-buckets
    // FROM ITS OWN CACHED VECTORS — one map-side hyperplane projection
    // through the bit-identical codegen expression buildEmbIndex uses;
    // the corpus parquet is never re-read. CLOSED-FORM ORACLE: rebuilt ≡
    // fresh-built at the derived 4 planes, so serving reuses the
    // embdedup_incremental restriction oracle verbatim.
    "embdedup_rebuild_policy" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val legacy = Dedup.embIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 2)
      val (rebuilt, fired) = Dedup.rebuildEmbIndexIfStale(legacy)
      require(fired, "embdedup_rebuild_policy gate: the plane policy did " +
        "not fire — the gate would silently test pass-through serving")
      Dedup.incrementalEmbeddingNearDups(rebuilt,
          emb.filter(col("vec_id") % 5 === 0),
          col("vec_id"), col("embedding"), threshold = 0.3)
        .orderBy(col("id1"), col("id2"))
    }),

    // COMPACTION POLICY on the embedding catalog — width-arm
    // detector→actuator (dedup_compact_policy's shape on the semantic
    // tier, through the shared convergent StandingIndex policy arithmetic):
    // the standing corpus assembles as a base build (% 7 ≠ 0,
    // bench-setup `emb_base_build`) plus two appends, so the member
    // frame carries three generations of concatenated partitions and
    // the width arm (bound pinned just above the base width) must fire
    // — landing INSIDE the bound, the round-10 fixed-point semantics.
    // Per-vector rows make base+appends ≡ one build and pair sets are
    // partition-independent → the incremental restriction oracle.
    "embdedup_compact_policy" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val standing = emb.filter(col("vec_id") % 5 =!= 0)
      val base = Dedup.embIndexFor(standing.filter(col("vec_id") % 7 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 4)
      val baseWidth = base.vecs.rdd.getNumPartitions
      val grown = Seq(0, 1).foldLeft(base) { (ix, j) =>
        Dedup.embIndexAppend(ix,
          standing.filter(col("vec_id") % 7 === 0 && col("vec_id") % 2 === j),
          col("vec_id"), col("embedding"))
      }
      val (served, fired) = grown.compactIfFragmented(
        maxPartitions = Some(baseWidth + 1))
      require(fired, "embdedup_compact_policy gate: the width arm did not " +
        "fire — an uncompacted catalog would serve and gate nothing")
      Dedup.incrementalEmbeddingNearDups(served,
          emb.filter(col("vec_id") % 5 === 0),
          col("vec_id"), col("embedding"), threshold = 0.3)
        .orderBy(col("id1"), col("id2"))
    }),

    // HOT-BUCKET QUARANTINE on the embedding catalog — the ACTUATOR for
    // embdedup_index_health's detector (dedup_quarantine's verb on the
    // semantic tier): buckets over the bound (32 — the sf0.01 catalog's
    // hottest holds 42, so the quarantine genuinely engages) leave the
    // within-bucket self-join; their members re-route through the
    // per-bucket max-variance-coordinate CELL JOIN, lossless for the
    // same-bucket contract (a unit-vector pair at cos ≥ t differs ≤
    // √(2−2t) in every coordinate). CLOSED-FORM ORACLE: lossless ⇒
    // quarantined ≡ the plain catalog pair set ≡ the committed full-run
    // fixture restricted to both-endpoints-standing.
    "embdedup_quarantine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = Dedup.embIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 4)
      Dedup.embeddingNearDupsQuarantined(index, threshold = 0.3,
          maxBucket = 32L)
        .orderBy(col("id1"), col("id2"))
    }),

    // ---------------------------------------------------------------
    // North-star: exact dedup on normalized-text fingerprint.
    "dedup_exact" -> ((s, dir) => {
      Dedup.exact(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // North-star: CORPUS-LEVEL LINE DEDUP (MassiveText-style) — remove
    // every line repeating >= 2 times across the corpus. documents are
    // single-line, so the gate synthesizes 50 ten-line docs (doc_id%50,
    // line order doc_id div 50); the corpus's duplicated texts become
    // corpus-duplicate LINES spread across different synthetic docs. The
    // oracle re-derives counts + per-doc cleaned-text md5 straight from
    // the base table (no split/concat — independent formulation).
    "line_dedup" -> ((s, dir) => {
      val ml = Tables.documents(s, dir)
        .select((col("doc_id") % 50).as("mdoc"), expr("doc_id div 50").as("line_no"),
          col("text"))
        .groupBy(col("mdoc"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("line_no"), col("text")))),
            t => t.getField("text")),
          "\n").as("text"))
      Dedup.corpusLineDedup(ml, col("mdoc"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // North-star: C4-STYLE DROP RULES — per-rule boolean columns + the
    // composite keep, straight map-side column algebra. Oracle re-derives
    // every rule with DuckDB's regex/list functions.
    "c4_filters" -> ((s, dir) => {
      TextAnalysis.c4Filters(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // North-star: PII REDACTION — deterministic synthetic emails/phones/
    // IPv4s appended to real docs (identical construction in the oracle),
    // then per-category match counts and the md5 of the redacted text.
    // Patterns are the java.regex ∩ RE2 subset so BOTH engines run the
    // literal same regexes; replacement order (email → phone → IP) is part
    // of the contract and the gate.
    "pii_redact" -> ((s, dir) => {
      val aug = Tables.documents(s, dir).select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 415-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
            (col("doc_id") % 100).cast("string"))).otherwise(lit(""))).as("text"))
      val (em, ph, ip) = TextAnalysis.piiCounts(col("text"))
      aug.select(col("doc_id"),
        em.as("n_email"), ph.as("n_phone"), ip.as("n_ip"),
        md5(TextAnalysis.redactPii(col("text")).cast("binary")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // North-star: EXACT HEAVY HITTERS, SKETCH-PRUNED — SpaceSaving
    // candidates (O(capacity) memory, one pass) → exact recount of only
    // the candidates. Threshold n/200+1 with capacity 512 keeps the
    // SpaceSaving superset guarantee (> n/512 always retained) at EVERY
    // scale factor, so the result provably equals the oracle's full
    // GROUP BY ... HAVING — which is exactly what the gate checks.
    "heavy_hitters" -> ((s, dir) => {
      val terms = Tables.documents(s, dir)
        .select(explode(TextAnalysis.terms(col("text"))).as("term"))
      val total = terms.count()
      HeavyHitters.exactHeavyHitters(terms, col("term"),
          minCount = total / 200 + 1, capacity = 512)
        .orderBy(col("cnt").desc, col("key"))
    }),

    // ---------------------------------------------------------------
    // North-star: UNICODE SCRIPT PROFILE — per-script character counts +
    // dominant script, the branch signal for multilingual pipelines
    // (tokenizer choice, CJK segmentation). Inline multilingual fixture;
    // the oracle counts with RE2's \p{Script} classes (same Unicode
    // property, independent regex engine).
    "script_profile" -> ((s, dir) => {
      import s.implicits._
      val rows = Seq(
        (1L, "深度学习模型的训练数据质量"),
        (2L, "ひらがなとカタカナのテキスト"),
        (3L, "ข้อมูลการฝึกอบรมโมเดลภาษา"),
        (4L, "Qualité des données d'entraînement: été, Çà!"),
        (5L, "Обучение языковых моделей"),
        (6L, "MIXED text 混合テキスト 123"),
        (7L, "12345 67890 !!!"))
      TextAnalysis.withScriptProfile(rows.toDF("doc_id", "text"), col("text"))
        .select(col("doc_id"), col("n_latin"), col("n_han"), col("n_kana"),
          col("n_cyrillic"), col("n_thai"), col("dominant_script"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // North-star: EXACT-SUBSTRING DUPLICATION (Lee et al. 2022) — per doc,
    // how many of its 40-char normalized windows appear in ≥2 docs. The
    // fingerprints come from the O(n) sliding codegen expression
    // (graft_window_hashes); the oracle refolds EVERY window directly
    // (fold31<<31 | fold37 per substring) — independent O(n·L)
    // computation, same packed value by Rabin-Karp construction.
    "dup_windows" -> ((s, dir) => {
      Dedup.duplicatedWindowStats(Tables.documents(s, dir), col("doc_id"), col("text"),
        winLen = 40, minDocs = 2L)
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // North-star: BM25 RANKED RETRIEVAL — top-20 docs for a fixed query
    // term set; the scoring the inverted index serves. Per-term
    // contributions quantized to micro-units pre-sum (order-proof), emitted
    // as BIGINT; oracle re-derives tf/df/avgdl/idf from scratch.
    "bm25_topk" -> ((s, dir) => {
      TextAnalysis.bm25TopDocs(Tables.documents(s, dir), col("doc_id"), col("text"),
        Seq("data", "query", "join", "window", "spark"), k = 20)
    }),

    // ---------------------------------------------------------------
    // North-star: per-document text analysis (token counts, quality).
    "text_analysis" -> ((s, dir) => {
      TextAnalysis.analyze(Tables.documents(s, dir), col("doc_id"), col("text"))
        .drop("lang_pred") // lang id is its own (non-oracle) query
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // North-star composite: CORPUS CURATION — the end-to-end shape a
    // training-data pipeline runs: analyze → exact-dedup keep-canonical
    // (skew-immune groupBy/min on the fingerprint) → quality filter →
    // per-language counts/quality/token totals. One analyze pass feeds
    // both the canonical-id aggregation and the keep side (persisted —
    // two consumers), the semi-join is keyed so AQE sizes it.
    "corpus_curation" -> ((s, dir) => {
      val a = TextAnalysis.analyze(Tables.documents(s, dir), col("doc_id"), col("text"))
        .persistTracked()
      val canon = a.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      a.join(canon, Seq("fp", "doc_id"), "left_semi")
        .filter(col("quality") >= 0.5)
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("quality")), 6).as("avg_quality"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("lang_pred"))
    }),

    // ---------------------------------------------------------------
    // North-star: language ID heuristic (stopword-profile voting).
    "lang_id" -> ((s, dir) => {
      TextAnalysis.withLangId(Tables.documents(s, dir), col("text"))
        .select(col("doc_id"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // North-star: brute-force cosine top-k ANN (query side broadcast).
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.cosineTopK(queries, emb, 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // HARD-NEGATIVE MINING (Similarity.hardNegatives): per query vector,
    // the top-k most-similar corpus vectors with a DIFFERENT label — the
    // contrastive-training pair miner. Label predicate inside the
    // broadcast-join condition (same-label candidates never reach
    // scoring); ranking through the TopKPerKey plan node. Independent
    // DuckDB window-rank oracle re-derives cosine + label filter.
    "ann_hard_negatives" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.hardNegatives(queries, emb, 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // Same brute-force ANN contract, ranked through the CUSTOM CATALYST
    // PLAN NODE (GraftTopKPerKey: logical node + planner strategy +
    // partial/final physical operators — map-side k-bound in Tungsten row
    // format, one hash exchange placed by EnsureRequirements). Gated
    // against the same independent DuckDB window-rank oracle as
    // ann_cosine_topk, so aggregator path ≡ plan-node path ≡ SQL.
    "ann_cosine_topk_native" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.cosineTopKNative(queries, emb, 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // North-star: per-language QUALITY QUANTILES — the distribution a
    // curation pipeline thresholds against. Exact quantiles, computed
    // scale-aware: quality is rounded to 6 decimals, so a (lang, quality)
    // COUNT histogram (map-side partial aggregation, ≤10⁶ distinct values
    // per group) feeds Spark's WEIGHTED percentile — the aggregation buffer
    // holds the bounded histogram, never a per-group list of raw rows,
    // which is what plain percentile() would collect at 10⁹ docs.
    "quality_quantiles" -> ((s, dir) => {
      // one analyze pass feeds both histograms (persisted — two consumers;
      // callers clearCache between runs per the Dedup/Similarity contract)
      val a = TextAnalysis.analyze(Tables.documents(s, dir), col("doc_id"), col("text"))
        .select(col("lang_pred"), col("quality"), col("n_tokens"))
        .persistTracked()
      val qHist = a.groupBy(col("lang_pred"), col("quality")).agg(count(lit(1)).as("cnt"))
      val qq = qHist.groupBy(col("lang_pred")).agg(
        sum(col("cnt")).as("n_docs"),
        round(expr("percentile(quality, 0.25, cnt)"), 6).as("q25"),
        round(expr("percentile(quality, 0.5, cnt)"), 6).as("q50"),
        round(expr("percentile(quality, 0.9, cnt)"), 6).as("q90"))
      val tHist = a.groupBy(col("lang_pred"), col("n_tokens")).agg(count(lit(1)).as("cnt"))
      val mt = tHist.groupBy(col("lang_pred")).agg(
        round(expr("percentile(n_tokens, 0.5, cnt)"), 6).as("median_tokens"))
      qq.join(mt, Seq("lang_pred")).orderBy(col("lang_pred"))
    }),

    // ---------------------------------------------------------------
    // North-star: MinHash + LSH near-duplicate pairs. bands=16 (r=2) puts
    // the S-curve midpoint at (1/16)^(1/2) = 0.25, well below the 0.5
    // Jaccard threshold → ~99% candidate recall at J=0.5 (bands=8's 0.59
    // midpoint silently dropped borderline pairs); the exact-Jaccard
    // verify prunes the extra low-J candidates.
    "minhash_lsh_pairs" -> ((s, dir) => {
      Dedup.minHashDedupPairs(Tables.documents(s, dir), col("doc_id"), col("text"),
          numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
        .orderBy(col("id1"), col("id2"))
    }),

    // ---------------------------------------------------------------
    // INCREMENTAL DEDUP against a STANDING INDEX — the near-dup freshness
    // path (the dedup analogue of ann_index_append): the corpus's shingle
    // arrays + LSH buckets build once as artifacts (Bench setup line
    // `dedup_index_build`), and the 20% batch (doc_id % 5 == 0) pays only
    // its own staging plus bucket joins against the standing catalog.
    // CLOSED-FORM ORACLE: identical staging/signature/verification math
    // means the incremental pair set must equal the committed FULL-run
    // fixture restricted to pairs touching a batch doc — no new fixture,
    // the guarantee itself is the gate.
    "minhash_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      Dedup.incrementalMinHashPairs(index, docs.filter(col("doc_id") % 5 === 0),
          col("doc_id"), col("text"), threshold = 0.5)
        .orderBy(col("id1"), col("id2"))
    }),

    // DEDUP CATALOG HEALTH — LSH bucket-size statistics + the implied
    // candidate-join cost of the standing index (hot buckets are THE
    // LSH failure mode at scale: a bucket of n docs costs n·(n−1)/2
    // candidate pairs per touching batch — this report drives re-banding
    // / quarantine BEFORE the join blows up). Integer-only long format;
    // fixture-gated (band hashes are engine-specific murmur3,
    // bit-stable). Same 80% corpus as the incremental gate → shares the
    // built catalog through the memo.
    "dedup_index_health" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      Dedup.dedupIndexHealth(index)
        .orderBy(col("metric"), col("key"))
    }),

    // HOT-BUCKET QUARANTINE — the actuator for the health report's
    // detector: LSH buckets over the size bound leave the candidate
    // self-join; their member docs re-route through the EXACT prefix-
    // filter join (lossless at the threshold, boilerplate-immune — rare
    // shingles form the prefixes). maxBucket=2 genuinely quarantines at
    // sf0.01 (the catalog's hottest bucket holds 3 docs — the fallback
    // path executes, not just compiles). CLOSED-FORM ORACLE: quarantine
    // can only re-route pairs to a lossless verifier, so the pair set ≡
    // the unquarantined full run restricted to the index's 80% corpus —
    // the committed full-run fixture under the both-endpoints-standing
    // restriction. Same standing catalog as the incremental/health gates
    // (shared through the memo; built once in bench setup).
    "dedup_quarantine" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      Dedup.quarantinedPairs(index, threshold = 0.5, maxBucket = 2)
        .orderBy(col("id1"), col("id2"))
    }),

    // DEDUP OPERATING REPORT — the one ops artifact a curation team
    // reads on the standing catalog (the dedup mirror of
    // ann_operating_report): the full catalog-health table (bucket
    // stats, implied candidate-join cost) PLUS the derived operating
    // points — the scale-adaptive banding the corpus size implies
    // (autoBanding at the committed 0.5 threshold) and the quarantine
    // bound the 175-pair candidate budget implies. One long-format
    // integer table; the oracle re-reads the health fixture and pins
    // the derived rows at their closed-form sf0.01 values (the
    // derivations themselves are property-tested in DedupTextSpec).
    "dedup_operating_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      val n = index.staged.count() // artifact-cached — a metadata read
      val (autoH, autoB) = Dedup.autoBanding(n, 0.5)
      val bound = Dedup.quarantineBudgetBound(index, 175L)
      val derived = s.range(1).select(explode(array(
          struct(lit("auto_num_hashes").as("metric"), lit(-1L).as("key"),
            lit(autoH.toLong).as("value")),
          struct(lit("auto_bands").as("metric"), lit(-1L).as("key"),
            lit(autoB.toLong).as("value")),
          struct(lit("quarantine_bound_175").as("metric"), lit(-1L).as("key"),
            lit(bound).as("value")))).as("r"))
        .select(col("r.metric"), col("r.key"), col("r.value"))
      Dedup.dedupIndexHealth(index).unionByName(derived)
        .orderBy(col("metric"), col("key"))
    }),

    // INCREMENTAL + QUARANTINE — the hot-bucket mitigation on the
    // freshness path, where a hot standing bucket recurs in EVERY daily
    // batch's bucket join: over-bound catalog buckets (maxBucket=2; the
    // sf0.01 catalog's hottest holds 3, so the path genuinely engages)
    // leave the batch⋈catalog join and the batch resolves against their
    // members through the lossless prefix fallback. Same restriction
    // oracle as minhash_incremental: the fallback can only ADD true
    // pairs, and at this corpus LSH recall is total, so the pair set is
    // identical.
    "minhash_incremental_quarantined" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      Dedup.incrementalMinHashPairsQuarantined(index,
          docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"),
          threshold = 0.5, maxBucket = 2)
        .orderBy(col("id1"), col("id2"))
    }),

    // DEDUP CATALOG ROUNDTRIP — parquet save→load of the standing index
    // (the catalog's cross-session artifact lifecycle, completing the
    // symmetry with ann_index_roundtrip): the save is the bench-setup
    // `dedup_index_save` line; this query LOADS the catalog in a fresh
    // set of artifact frames and serves the standard incremental batch
    // against it. CLOSED-FORM ORACLE: loaded-serving ≡ built-serving
    // (storage-exact member types, order-independent joins), so the
    // minhash_incremental restriction oracle applies verbatim.
    "dedup_index_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = savedPath("dedup", dir)
      if (!new java.io.File(path, "meta").isDirectory) {
        Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
            col("doc_id"), col("text"), numHashes = 32, nBands = 16,
            shingleK = 3).save(path)
      }
      val loaded = Dedup.DedupIndex.load(s, path)
      Dedup.incrementalMinHashPairs(loaded, docs.filter(col("doc_id") % 5 === 0),
          col("doc_id"), col("text"), threshold = 0.5)
        .orderBy(col("id1"), col("id2"))
    }),

    // CATALOG REBUILD POLICY — the dedup mirror of ann_rebuild_policy,
    // closing the banding-drift loop: a LEGACY catalog (8 bands × 4 rows,
    // a banding built for a smaller corpus era; bench-setup line
    // `dedup_legacy_build`) is judged against autoBanding of its CURRENT
    // staged count, which derives the committed 16×2 → the policy fires
    // and re-bands FROM THE CATALOG'S OWN STAGED FRAME (shingles are
    // banding-independent: no corpus re-read, no re-staging — only the
    // map-side signature+banding projection recomputes, through the
    // bit-identical expressions buildDedupIndex uses). CLOSED-FORM
    // ORACLE: rebuilt ≡ fresh-built at the derived banding, so the
    // standard incremental batch against it reuses the
    // minhash_incremental restriction oracle verbatim; the require makes
    // the gate fail loudly if the policy ever stops firing here.
    "dedup_rebuild_policy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val legacy = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 8, shingleK = 3)
      val (rebuilt, fired) = Dedup.rebuildCatalogIfStale(legacy, 0.5)
      require(fired, "dedup_rebuild_policy gate: the banding policy did " +
        "not fire — the gate would silently test pass-through serving")
      Dedup.incrementalMinHashPairs(rebuilt, docs.filter(col("doc_id") % 5 === 0),
          col("doc_id"), col("text"), threshold = 0.5)
        .orderBy(col("id1"), col("id2"))
    }),

    // RETENTION DELETE on the standing catalog — the lifecycle's missing
    // half (appends grow the catalog daily; right-to-be-forgotten /
    // takedown events must SHRINK it on batch-sized cost, no rebuild):
    // standing docs with doc_id % 7 == 0 are removed via the broadcast
    // anti-join path, then the standard incremental batch serves against
    // the shrunk catalog. CLOSED-FORM ORACLE: per-doc member rows mean
    // remove ≡ fresh build over corpus∖removed at the same banding, so
    // the pair set is the committed full-run fixture restricted to
    // batch-touching pairs with NO removed standing endpoint (3 of the
    // 14 batch-touching pairs vanish at sf0.01 — the removal genuinely
    // engages). Same standing catalog via the memo; the removal
    // anti-joins are the measured per-event work.
    "dedup_index_remove" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      val shrunk = index.remove(
        docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
          .select(col("doc_id")))
      Dedup.incrementalMinHashPairs(shrunk, docs.filter(col("doc_id") % 5 === 0),
          col("doc_id"), col("text"), threshold = 0.5)
        .orderBy(col("id1"), col("id2"))
    }),

    // CATALOG COMPACTION — the churn counterpart of the remove gate: k
    // appends concatenate k generations of partitions into every batch
    // bucket join and removes leave full-width mostly-empty scans;
    // compact() re-materializes staged on doc_id and bands on
    // the bucket key (band_idx, band_hash) — the equi-join key every
    // daily batch probes, so the standing side's layout amortizes across
    // batches. Content untouched; pair sets are partition-independent
    // (suite-wide invariant), so remove→compact→serve reuses the remove
    // gate's restriction oracle verbatim.
    "dedup_index_compact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      val shrunk = index.remove(
        docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
          .select(col("doc_id")))
      val compacted = shrunk.compact()
      Dedup.incrementalMinHashPairs(compacted, docs.filter(col("doc_id") % 5 === 0),
          col("doc_id"), col("text"), threshold = 0.5)
        .orderBy(col("id1"), col("id2"))
    }),

    // COMPACTION POLICY on the catalog — the detector→actuator for the
    // merge cadence (StandingIndex.compactIfFragmented; "every k
    // batches" is the wrong trigger since batch sizes vary — the policy
    // reads scheduling width directly). The standing corpus
    // (doc_id % 5 ≠ 0) assembles as a base build plus two appends, so
    // the member frames carry three generations of concatenated
    // partitions and the width arm (bound pinned just above the base
    // width) must fire — the in-gate require keeps a silently no-op
    // policy from serving an uncompacted catalog and gating nothing.
    // Member rows are per-doc, so base+appends ≡ one build over % 5 ≠ 0
    // and policy-fired serving reuses the incremental restriction
    // oracle verbatim — closed-form, no new fixture.
    "dedup_compact_policy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val standing = docs.filter(col("doc_id") % 5 =!= 0)
      val base = Dedup.dedupIndexFor(standing.filter(col("doc_id") % 7 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      val baseWidth = math.max(base.staged.rdd.getNumPartitions,
        base.bands.rdd.getNumPartitions)
      val grown = Seq(0, 1).foldLeft(base) { (ix, j) =>
        Dedup.dedupIndexAppend(ix,
          standing.filter(col("doc_id") % 7 === 0 && col("doc_id") % 2 === j),
          col("doc_id"), col("text"))
      }
      val (served, fired) = grown.compactIfFragmented(
        maxPartitions = Some(baseWidth + 1))
      require(fired, "dedup_compact_policy gate: the width arm did not " +
        "fire — an uncompacted catalog would serve and gate nothing")
      Dedup.incrementalMinHashPairs(served, docs.filter(col("doc_id") % 5 === 0),
          col("doc_id"), col("text"), threshold = 0.5)
        .orderBy(col("id1"), col("id2"))
    }),

    // QUARANTINE POLICY — the bound DERIVED from a candidate-pair budget
    // (Dedup.quarantinedPairsBudget, the dedup mirror of the ANN rebuild
    // policy's derive-don't-pin stance): the catalog's bucket-size
    // histogram is one partial-aggregated pass; the largest bound whose
    // cumulative within-bound join cost fits the budget wins. The
    // sf0.01 catalog's full join is 176 candidate pairs (173 from ≤2
    // buckets + one 3-bucket costing 3) — budget 175 is ONE PAIR SHORT,
    // so the policy must land the bound at 2 and quarantine the hot
    // bucket; the require keeps that honest. Same restriction oracle as
    // dedup_quarantine (the budget moves WHERE pairs are found, never
    // WHICH pairs are found — the fallback is lossless).
    "dedup_quarantine_budget" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      val (pairs, bound) = Dedup.quarantinedPairsBudget(index,
        threshold = 0.5, maxCandidatePairs = 175L)
      require(bound < 3,
        s"dedup_quarantine_budget gate: expected the 175-pair budget to " +
          s"exclude the 3-bucket (bound=$bound) — the gate would silently " +
          "test a no-op")
      pairs.orderBy(col("id1"), col("id2"))
    }),

    // SCALE-ADAPTIVE BANDING — (numHashes, bands) derived from corpus
    // size + threshold (Dedup.autoBanding) instead of pinned 16×2: rows
    // per band rise with the corpus (one per decade past 10⁵) to keep
    // background-similarity candidate mass sub-quadratic, bands rise to
    // hold ≥95% candidate recall AT the threshold, a 512-hash budget
    // bounds the signature stage. At gate scale the derivation resolves
    // to exactly the committed 16×2 — so the committed full-run fixture
    // IS the equivalence oracle; the probe record measures the
    // candidate-count curve where geometries diverge (×10/×30).
    "dedup_auto_banding" -> ((s, dir) => {
      Dedup.minHashDedupPairsAuto(Tables.documents(s, dir),
          col("doc_id"), col("text"), threshold = 0.5, shingleK = 3)
        .orderBy(col("id1"), col("id2"))
    }),

    // ---------------------------------------------------------------
    // North-star: N-GRAM JACCARD, standalone gate — exact 3-shingle
    // Jaccard for every pair of a deterministic doc sample (1225 pairs
    // at sf0.01), including zero-overlap pairs (exercises the left-join
    // inter=0 path). The oracle re-derives shingling, intersection, and
    // union sizes from scratch in DuckDB list algebra. In the dedup
    // pipeline this same verifyJaccard runs only on LSH candidates; here
    // it is gated directly over a dense pair set — which makes the GATE
    // WORKLOAD inherently quadratic in the sample, so the sample is
    // PINNED (doc_id < 5000 ∧ %10: vacuous at the ≤sf0.1 oracle scales,
    // caps the pair count on derived ×N corpora). The ×10 bench measured
    // the unpinned form at exponent 1.72 — that was the dense pair space
    // growing, not the engine: scale-shaped Jaccard verification is the
    // bucketed minhash_lsh_pairs / sim_prefix_join families.
    "jaccard_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0 && col("doc_id") < 5000)
      val sh = Dedup.docShingles(docs, col("doc_id"), col("text"), 3)
      val ids = docs.select(col("doc_id"))
      val cand = ids.select(col("doc_id").as("id1"))
        .join(ids.select(col("doc_id").as("id2")), col("id1") < col("id2"))
      Dedup.verifyJaccard(cand, sh)
        .select(col("id1"), col("id2"), col("sz1"), col("sz2"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id1"), col("id2"))
    }),

    // ---------------------------------------------------------------
    // North-star: CHARACTER-SHINGLE profile — the shingling for scripts
    // whitespace cannot segment, beside the word form for comparison.
    // Distinct 5-char and word-3-gram counts per sampled doc; the oracle
    // re-derives both from scratch with DuckDB string/list algebra.
    "char_shingles" -> ((s, dir) => {
      // stage __norm/__toks as real columns: the shingle lambdas reference
      // them per window, and an inlined normalize expression re-runs its
      // regexes per position (measured 10x+)
      Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        .withColumn("__norm", TextAnalysis.normalizeText(col("text")))
        .withColumn("__toks", split(col("__norm"), " "))
        .select(col("doc_id"),
          size(Dedup.charShinglesFromNormalized(col("__norm"), 5)).cast("long").as("n_char_shingles"),
          size(Dedup.shinglesFromTokens(col("__toks"), 3)).cast("long").as("n_word_shingles"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // North-star: UNICODE char shingles — the char-shingle path on the
    // scripts it exists FOR (CJK / Thai / Cyrillic / accented Latin),
    // normalized with the \p{L}\p{M}\p{N} class so non-Latin letters and
    // combining marks survive where the ASCII normalizer would blank the
    // document. Inline multilingual fixture (identical VALUES in the
    // oracle); the oracle re-derives normalization + distinct 3-shingle
    // counts with DuckDB's RE2 + list algebra — independent regex engine,
    // same category classes.
    "char_shingles_unicode" -> ((s, dir) => {
      import s.implicits._
      Seq(
        (1L, "深度学习模型的训练数据质量"),
        (2L, "深度学习模型的预训练语料库"),
        (3L, "ข้อมูลการฝึกอบรมโมเดลภาษา"),
        (4L, "Qualité des données d'entraînement: été, Çà!"),
        (5L, "Обучение языковых моделей"),
        (6L, "MIXED text 混合テキスト 123"))
        .toDF("doc_id", "text")
        .withColumn("__norm", TextAnalysis.normalizeTextUnicode(col("text")))
        .select(col("doc_id"),
          length(col("__norm")).cast("long").as("norm_len"),
          size(Dedup.charShinglesFromNormalized(col("__norm"), 3))
            .cast("long").as("n_char_shingles"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // North-star: BOILERPLATE DETECTION — the 20 highest-document-frequency
    // 3-shingles (docShingles de-dups within a doc, so the count IS doc
    // frequency). Shape at scale: explode → map-side partial count →
    // TakeOrderedAndProject; ties break on the shingle text so the cut at
    // k is deterministic across engines.
    "boilerplate_ngrams" -> ((s, dir) => {
      Dedup.docShingles(Tables.documents(s, dir), col("doc_id"), col("text"), 3)
        .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("shingle"))
        .limit(20)
    }),

    // ---------------------------------------------------------------
    // North-star: near-dup CLUSTERS — connected components over the live
    // minhash pair graph (min-label propagation), canonical doc = smallest
    // id in the component. The oracle recomputes reachability INDEPENDENTLY
    // (DuckDB recursive CTE) over the committed pair fixture, so this gate
    // is red if either the live pair set drifts from the fixture or the
    // label propagation is wrong.
    "neardup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minHashDedupPairs(Tables.documents(s, dir),
        col("doc_id"), col("text"), numHashes = 32, bands = 16,
        threshold = 0.5, shingleK = 3)
      Dedup.connectedComponents(pairs)
        .withColumn("is_canonical", col("cluster_id") === col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // North-star: near-dup clusters via ALTERNATING STAR CONTRACTION —
    // the diameter-independent (O(log n)-round) connected-components
    // algorithm, over the COMMITTED pair fixture so the gate isolates the
    // clustering operator itself (the live pair set is gated by
    // minhash_lsh_pairs / neardup_clusters). Same independent recursive-CTE
    // reachability oracle: both implementations must agree with it — and
    // therefore with each other.
    "neardup_clusters_star" -> ((s, dir) => {
      val pairs = s.read.parquet(s"$fixturesDir/minhash_lsh_pairs.parquet")
      Dedup.connectedComponentsStar(pairs)
        .withColumn("is_canonical", col("cluster_id") === col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // SOURCE-OVERLAP DUP MATRIX — which sources near-duplicate each
    // other: the diagnostics behind source pruning and mixture design
    // (two sources sharing many near-dup pairs carry redundant material;
    // a source heavy in SELF-pairs needs internal dedup first). Pairs
    // from the committed fixture join the doc→source map on both ends;
    // the (source, source) key is canonicalized least/greatest so the
    // matrix is upper-triangular whatever order the pair was emitted in.
    // Integers only; two equi-joins + one small keyed aggregate.
    "source_dup_matrix" -> ((s, dir) => {
      val pairs = s.read.parquet(s"$fixturesDir/minhash_lsh_pairs.parquet")
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id1"), col("source").as("s1")), Seq("id1"))
        .join(src.select(col("doc_id").as("id2"), col("source").as("s2")), Seq("id2"))
        .select(least(col("s1"), col("s2")).as("source_a"),
          greatest(col("s1"), col("s2")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_dup_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // ---------------------------------------------------------------
    // TRIANGLE COUNTS over the near-dup pair graph (Dedup.triangleCounts,
    // degree-ordered orientation — O(m^1.5), hot-vertex-proof): local
    // clustering density per doc. Over the committed pair fixture so the
    // gate isolates the graph operator; the oracle re-derives orientation
    // and both closing joins from the same fixture in SQL.
    "neardup_triangles" -> ((s, dir) => {
      val pairs = s.read.parquet(s"$fixturesDir/minhash_lsh_pairs.parquet")
      Dedup.triangleCounts(pairs).orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // PAIRWISE CENTROID COSINE between embedding labels
    // (Similarity.labelCentroidCosine): the source/topic similarity map.
    // Micro-unit integer component sums; DECIMAL(38,0) dot/norm
    // accumulation; one IEEE double cosine at the end — engine-exact.
    "label_centroid_cos" -> ((s, dir) => {
      Similarity.labelCentroidCosine(Tables.embeddings(s, dir),
          col("label"), col("embedding"))
        .orderBy(col("label_i"), col("label_j"))
    }),

    // ---------------------------------------------------------------
    // North-star: SimHash near-dup pairs (fixture-gated). maxHamming = 6
    // runs at the GUARANTEED-RECALL geometry Dedup.bandGeometry derives
    // (8 blocks, 2-block joint keys, 28 tables, 16-bit keys — pigeonhole
    // recall 1.0 at the advertised threshold). The r13-era gate ran
    // maxHamming = 10 on a fixed 4-band layout that only guarantees
    // Hamming ≤ 3 — silently partial recall the fixture oracle could not
    // see (the full run and the fixture shared the blind spot). 6 is the
    // honest production point: 16-bit joint keys hold candidate density
    // at the legacy level (Hamming-10 guaranteed recall on a 64-bit hash
    // needs 66 tables of 10-bit keys — candidates ≈ 66·N²/2¹¹, ~8×10⁹ at
    // the ×100 corpus; available via the same derivation, priced in
    // BENCH_NOTES_r14). HammingRecallProbe measures recall 1.0 at k=6
    // AND k=10 vs brute-force exact ground truth (BENCH_RECALL_x30.json);
    // DedupTextSpec pins the k=10 geometry and the legacy layout's
    // measured recall gap.
    "simhash_pairs" -> ((s, dir) => {
      Dedup.simHashPairs(
          Dedup.simHash(Tables.documents(s, dir), col("doc_id"), col("text")),
          maxHamming = 6)
        .orderBy(col("id1"), col("id2"))
    }),

    // SimHash HOT-BAND QUARANTINE (Dedup.simHashPairsQuarantined): the
    // Hamming-tier port of dedup_quarantine — band buckets over the bound
    // leave the in-band self-join (the join that goes quadratic on a
    // boilerplate-heavy corpus: one shared 16-bit window across n docs is
    // an n²/2-pair key) and their members resolve through the
    // distinct-hash collapse, EXACTLY reproducing the plain run at every
    // bound (identical hashes share all band memberships, so buckets are
    // hot or cold together and the collapse tier re-finds every withheld
    // band-sharing pair). Equality ⇒ the committed simhash_pairs fixture
    // is the oracle verbatim; bound 2 forces real traffic through both
    // the cold join and the collapse tier at this SF.
    "simhash_quarantine" -> ((s, dir) => {
      Dedup.simHashPairsQuarantined(
          Dedup.simHash(Tables.documents(s, dir), col("doc_id"), col("text")),
          maxHamming = 6, maxBucket = 2L)
        .orderBy(col("id1"), col("id2"))
    }),

    // SimHash QUARANTINE BUDGET POLICY (Dedup.simHashPairsBudget — the
    // derive-don't-pin stance of dedup_quarantine_budget on the Hamming
    // tier): the bound comes from a candidate-pair budget over the
    // band-bucket histogram, not a hand-picked constant. The in-gate
    // require pins that the budget actually excludes buckets at this SF
    // (a bound at the hottest size would make the gate a silent no-op);
    // the fallback is exact, so the fixture stays the equality oracle.
    "simhash_quarantine_budget" -> ((s, dir) => {
      val sims = GraftCaches.persisted(
        Dedup.simHash(Tables.documents(s, dir), col("doc_id"), col("text")))
      val (pairs, bound) = Dedup.simHashPairsBudget(sims, maxHamming = 6,
        maxCandidatePairs = 2000L)
      val hottest = Dedup.simHashQuarantineBound(sims, 6, Long.MaxValue)
      require(bound < hottest,
        s"simhash_quarantine_budget gate: the 2000-pair budget admitted " +
          s"every bucket (bound=$bound, hottest=$hottest) — the gate " +
          "would silently test a no-op")
      pairs.orderBy(col("id1"), col("id2"))
    }),

    // ---------------------------------------------------------------
    // North-star: LSH-bucketed ANN (fixture-gated; scale path for huge query sets).
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.lshTopK(queries, emb, 5, nPlanes = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // M3/A2/C1/D1/D6/D9 — the full Beam-pipeline parity job
    // (dataflow_pipeline.py:60-141): stub decode → window → CLAHE → blur →
    // stats → 15-field record. Metadata columns are SQL-reproducible from
    // the deterministic stub; kernel-derived stats are the _stats variant.
    "m3_pipeline_metadata" -> ((s, dir) => {
      SlicePipeline.run(s, 200).toDF().select(
        col("file_name"), col("gcs_uri_raw"), col("gcs_uri_processed"),
        col("patient_id_hash"), col("study_uid"), col("series_uid"),
        col("sop_instance_uid"), col("modality"), col("rows"), col("cols"),
        col("window_center"), col("window_width"))
        .orderBy(col("file_name"))
    }),

    // M3 kernel outputs (CLAHE+blur+population stats) — fixture-gated;
    // exactness also covered by KernelsSpec/SlicePipelineSpec golden tests.
    "m3_pipeline_stats" -> ((s, dir) => {
      SlicePipeline.run(s, 200).toDF().select(
        col("file_name"),
        round(col("mean_intensity"), 6).as("mean_intensity"),
        round(col("std_intensity"), 6).as("std_intensity"))
        .orderBy(col("file_name"))
    }),

    // ---------------------------------------------------------------
    // G1 — region growing, DISTRIBUTED frontier-join variant on a smooth
    // gradient image (converged region; oracle = recursive CTE
    // reachability in DuckDB; the exact BFS kernel is cross-checked in
    // RegionGrowingSpec).
    "g1_region_grow" -> ((s, dir) => {
      val pixels = Relational.gradientImage(s, 2, 16, 16)
      val seeds = s.range(2).select(col("id").as("image_id"),
        lit(8L).as("seed_y"), lit(8L).as("seed_x"))
      RegionGrowing.frontierJoin(pixels, seeds, threshold = 0.08, connectivity = 4)
        .orderBy(col("image_id"), col("y"), col("x"))
    }),

    // ---------------------------------------------------------------
    // G1 — EXACT BFS kernel (per-image UDF) on the same gradient fixture,
    // against the SAME recursive-CTE oracle as the frontier variant: the
    // driver gate itself proves UDF ≡ distributed ≡ SQL reachability.
    "g1_region_grow_exact" -> ((s, dir) => {
      val px = 16 * 16
      val dense = s.range(2).select(col("id").as("image_id"),
          lit(16).as("h"), lit(16).as("w"),
          expr(s"transform(sequence(0, ${px - 1}), " +
            "i -> CAST(((i div 16) * 4 + (i % 16) * 2) % 256 AS INT))").as("img"))
        .withColumn("mask", ImageOps.regionGrowConverged(
          col("img"), col("h"), col("w"), lit(8), lit(8), lit(0.08), lit(4)))
      dense.select(col("image_id"), posexplode(col("mask")).as(Seq("pos", "m")))
        .filter(col("m") === 1)
        .select(col("image_id"),
          expr("pos div 16").as("y"), (col("pos") % 16).cast("long").as("x"))
        .orderBy(col("image_id"), col("y"), col("x"))
    }),

    // ---------------------------------------------------------------
    // G2 DISTRIBUTED — adaptiveFrontier (per-image θ escalation + shrink
    // over frontier joins, driver holds only image→θ metadata) on a
    // three-image fixture exercising all three adaptation paths: image 0
    // escalates twice (blob admitted at θ=0.2), image 1 needs no
    // adaptation, image 2 is oversized at θ=0.1 and shrinks to the lone
    // seed. The oracle states the expected masks closed-form from the
    // fixture geometry.
    "g2_frontier_adaptive" -> ((s, dir) => {
      import s.implicits._
      val px = scala.collection.mutable.ArrayBuffer[(Long, Int, Int, Int)]()
      for { y <- 0 until 12; x <- 0 until 12 } {
        val v0 = if (y == 6 && x == 6) 100
          else if (y >= 5 && y <= 7 && x >= 5 && x <= 7) 150 else 240
        px += ((0L, y, x, v0))
        val v1 = if (y >= 4 && y <= 8 && x >= 4 && x <= 8) 110 else 230
        px += ((1L, y, x, if (y == 6 && x == 6) 100 else v1))
        px += ((2L, y, x, if (y == 6 && x == 6) 100 else 124))
      }
      val pixels = px.toSeq.toDF("image_id", "y", "x", "v")
      val seeds = Seq((0L, 6, 6), (1L, 6, 6), (2L, 6, 6))
        .toDF("image_id", "seed_y", "seed_x")
      RegionGrowing.adaptiveFrontier(pixels, seeds,
          initialThreshold = 0.1, maxThreshold = 0.3, connectivity = 4,
          minFrac = 0.05, maxFrac = 0.3)
        .select(col("image_id"), col("y").cast("long").as("y"),
          col("x").cast("long").as("x"))
        .orderBy(col("image_id"), col("y"), col("x"))
    }),

    // ---------------------------------------------------------------
    // §2.J — session windows over events (gap 30 min), the streaming demo's
    // batch-equivalent; oracle = gaps-and-islands SQL.
    "w2_session_windows" -> ((s, dir) => {
      EventStreams.sessionCounts(Tables.events(s, dir), "30 minutes")
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ---------------------------------------------------------------
    // North-star: DETERMINISTIC corpus split — train/validation/test
    // assignment from a content-independent id hash (TextAnalysis.
    // splitAssign), so the same document lands in the same split on any
    // engine, partitioning, or run. The oracle recomputes the rolling-hash
    // bucket in DuckDB — reproducible sampling is the gate itself.
    "corpus_split" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir)
      docs.select(col("source"), col("text"),
          TextAnalysis.splitAssign(col("doc_id")).as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"))
        .orderBy(col("source"), col("split"))
    }),

    // ---------------------------------------------------------------
    // SKEW TOOLKIT, driver-gated: saltedJoin scatters the big side across
    // sub-keys (small side replicated per salt) and saltedSum two-phase
    // aggregates per (key, salt) then per key — event_type has only 5
    // values, so every key is a hot key here. Salts must never leak into
    // results: the oracle is the PLAIN group-by over the clean table, so
    // any row lost/duplicated by salting breaks the count and any
    // mis-combined partial breaks the sum. Decimal arithmetic keeps the
    // two-phase sum bit-equal to DuckDB's sequential one.
    "skew_salted_agg" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val dim = Seq(("click", 1L), ("error", 2L), ("purchase", 3L),
        ("signup", 4L), ("view", 5L)).toDF("event_type", "type_rank")
      val joined = Skew.saltedJoin(
        ev.select(col("event_id"), col("event_type"), col("value")), dim,
        "event_type", salts = 8)
      Skew.saltedSum(joined, col("event_type"),
          col("value").cast("decimal(18,6)"), salts = 16, out = "sum_value")
        .select(col("event_type"),
          round(col("sum_value").cast("double"), 6).as("sum_value"), col("n"))
        .orderBy(col("event_type"))
    }),

    // ---------------------------------------------------------------
    // AS-OF JOIN — temporal alignment (last view before each purchase, per
    // user): one union + window pass, a single hash shuffle on the key —
    // never the per-key cross product a range theta-join would explode
    // into. The right side pre-dedups to one row per (user, ts). Oracle =
    // DuckDB's NATIVE ASOF LEFT JOIN — an independent implementation of
    // the same semantics.
    "f5_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val viewsRaw = ev.filter(col("event_type") === "view")
      val viewKeep = viewsRaw.groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("event_id"))
      val views = viewsRaw.join(viewKeep, Seq("user_id", "ts", "event_id"), "left_semi")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      Relational.asofJoin(purchases, views, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 6).as("purchase_value"),
          col("asof.event_id").as("view_event_id"),
          round(col("asof.value"), 6).as("view_value"))
        .orderBy(col("event_id"))
    }),

    // ---------------------------------------------------------------
    // §2.J — STREAM-STREAM INTERVAL JOIN (click→view attribution), batch
    // form: same-user views in the 6 hours before each click. The shared
    // definition runs unchanged on two watermarked streams, where the
    // event-time range condition bounds both sides' join state
    // (StreamingSpec pins stream ≡ batch).
    "w4_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      EventStreams.clickViewAttribution(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "view"), horizon = "6 hours")
        .orderBy(col("click_id"), col("view_id"))
    }),

    // ---------------------------------------------------------------
    // §2.J — STREAMING DEDUP (at-least-once ingest repair), batch form:
    // 10% of events are re-delivered, dropDuplicates(event_id) removes the
    // copies, then per-type order-independent exact aggregates. The oracle
    // aggregates the CLEAN table directly — the gate is red unless dedup
    // removes exactly the injected copies and nothing else. The real-stream
    // form (dropDuplicatesWithinWatermark with bounded state) is pinned
    // equal in StreamingSpec.
    "w3_stream_dedup" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val redelivered = ev.filter(col("event_id") % 10 === 0)
      EventStreams.dedupedTypeCounts(ev.union(redelivered))
        .orderBy(col("event_type"))
    }),

    // ---------------------------------------------------------------
    // North-star multimodal: binary media columns + typed metadata; batched
    // per-partition feature extraction. Schema-level columns are
    // oracle-checked; stub-derived features are fixture-gated.
    "mm_media_schema" -> ((s, dir) => {
      Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
        .select(col("media_id"), col("kind"),
          col("meta.n_bytes").as("n_bytes"), col("meta.source").as("source"))
        .orderBy(col("media_id"))
    }),

    "mm_media_features" -> ((s, dir) => {
      Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)))
        .orderBy(col("media_id"))
    }),

    "mm_frame_counts" -> ((s, dir) => {
      Multimodal.sampleFrames(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)), everyN = 64)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
        .orderBy(col("media_id"))
    }),

    // IMAGE NEAR-DUP DEDUP over REAL MIXED-FORMAT payloads — the
    // multimodal mandate at the same first-class depth as the text tier:
    // a deterministic synthetic corpus (groups of 8 consecutive ids share
    // a base pattern; members add member-scaled pixel noise — real
    // encoders, real bytes; members 2/5/7 transcode to JPEG/GIF/BMP so
    // every sniff+decode arm runs end to end, JPEG adding the organic
    // lossy-re-encode duplicate class) flows decode → 8×8/8×9 perceptual
    // hashes → the UNION of both hashes' band tables at the geometry
    // Dedup.bandGeometry derives from maxHamming (aHash tables before
    // dHash tables in band_idx order —
    // dHash bands recover brightness-shifted near-dups whose aHash cells
    // all move; MultimodalSpec measures the recall gap) → min-Hamming
    // verify. Fixture-gated (PNG encode + hashes are engine-specific);
    // group size is constant so candidate work is linear in N at every
    // scale. The corpus itself is a bench-SETUP artifact
    // (`mm_media_corpus_build`) so this line measures the dedup operator
    // (decode→hash→band→verify), not encoder throughput.
    "mm_phash_neardups" -> ((s, dir) => {
      val media = Multimodal.syntheticMediaFor(
        Tables.documents(s, dir).select(col("doc_id")))
      Multimodal.phashNearDups(media, maxHamming = 6)
        .orderBy(col("id1"), col("id2"))
    }),

    // IMAGE tier HOT-BAND QUARANTINE — the phash twin of
    // simhash_quarantine, where the bound bites first on a real corpus
    // (boilerplate assets hash identically across millions of pages →
    // one band bucket → a quadratic join key). Band buckets over the
    // bound leave the self-join; members resolve via the distinct-hash
    // collapse (Dedup.bandedHashPairs). The quarantine is EXACT at every
    // bound, so the committed full-run fixture is the equality oracle;
    // bound 4 sits below the 8-member group size, so the groups' shared
    // band buckets (5–8 members wherever ≥5 hashes agree on a 16-bit
    // window) actually route through the collapse tier at this SF
    // (MultimodalSpec pins the planted-clone case).
    "mm_phash_quarantine" -> ((s, dir) => {
      val media = Multimodal.syntheticMediaFor(
        Tables.documents(s, dir).select(col("doc_id")))
      Multimodal.phashNearDupsQuarantined(media, maxHamming = 6,
          maxBucket = 4L)
        .orderBy(col("id1"), col("id2"))
    }),

    // STANDING PHASH CATALOG, incremental serve — the image tier's
    // daily-ingest shape and the four-family symmetry closer (text
    // minhash / embedding / ANN catalogs all have standing incremental
    // paths; images were one-shot until now): the 80% split's hashes
    // stand as the catalog (bench-setup `phash_index_build` — decode
    // cost is the build, 3 longs per image are the standing state), the
    // 20% batch pays its own decode+hash plus band equi-joins. Pair set
    // ≡ the full-run fixture restricted to batch-touching pairs — the
    // same closed-form restriction oracle as minhash_incremental.
    "phash_incremental" -> ((s, dir) => {
      val media = Multimodal.syntheticMediaFor(
        Tables.documents(s, dir).select(col("doc_id")))
      val ix = Multimodal.phashIndexFor(
        media.filter(col("media_id") % 5 =!= 0))
      Multimodal.incrementalPhashPairs(ix,
          media.filter(col("media_id") % 5 === 0), maxHamming = 6)
        .orderBy(col("id1"), col("id2"))
    }),

    // PHASH CATALOG PARQUET ROUNDTRIP — the cross-session image-ingest
    // job (StandingIndex save / PhashIndex.load): the catalog's value
    // is never re-decoding the corpus, so the standing state must survive
    // a process restart as 3 longs per image. Save rides the bench-setup
    // line (`phash_index_save`, build through the memo); this line
    // measures LOAD + incremental serve. Hash rows are exact longs and
    // every downstream join is partition-order-independent, so
    // loaded-incremental ≡ in-memory incremental — the oracle is the
    // phash_incremental restriction over the committed full-run fixture,
    // verbatim.
    "phash_index_roundtrip" -> ((s, dir) => {
      val media = Multimodal.syntheticMediaFor(
        Tables.documents(s, dir).select(col("doc_id")))
      val path = savedPath("phash", dir)
      if (!new java.io.File(path, "hashes").isDirectory) {
        Multimodal.phashIndexFor(media.filter(col("media_id") % 5 =!= 0)).save(path)
      }
      val loaded = Multimodal.PhashIndex.load(s, path)
      Multimodal.incrementalPhashPairs(loaded,
          media.filter(col("media_id") % 5 === 0), maxHamming = 6)
        .orderBy(col("id1"), col("id2"))
    }),

    // RETENTION DELETE on the phash catalog — the image tier's takedown
    // verb (StandingIndex.remove; the r13 symmetry gap: PII images
    // had no path OUT of the standing state): standing media with
    // media_id % 7 == 0 leave via the broadcast anti-join, then the
    // standard incremental batch serves against the shrunk catalog.
    // CLOSED-FORM ORACLE: per-media hash rows mean remove ≡ fresh build
    // over corpus∖removed, so the pair set is the committed full-run
    // fixture restricted to batch-touching pairs with NO removed standing
    // endpoint. Same standing catalog via the memo; the removal anti-join
    // is the measured per-event work.
    "phash_index_remove" -> ((s, dir) => {
      val media = Multimodal.syntheticMediaFor(
        Tables.documents(s, dir).select(col("doc_id")))
      val ix = Multimodal.phashIndexFor(
        media.filter(col("media_id") % 5 =!= 0))
      val shrunk = ix.remove(
        media.filter(col("media_id") % 5 =!= 0 && col("media_id") % 7 === 0)
          .select(col("media_id")))
      Multimodal.incrementalPhashPairs(shrunk,
          media.filter(col("media_id") % 5 === 0), maxHamming = 6)
        .orderBy(col("id1"), col("id2"))
    }),

    // VIDEO-FRAME NEAR-DUPS, full run — moving media through the SAME
    // banded-Hamming core as still images: videos are opaque binary
    // payloads (frame-concatenated real PNGs, bench-setup
    // `mm_video_corpus_build`), frames explode via the container walker
    // (Multimodal.splitPngFrames — magic-byte scan, the codec-free
    // container-index stand-in), then per-frame decode → aHash+dHash →
    // derived-geometry banding → exact Hamming verify. Work is linear in
    // total frames at every scale (constant group size, same argument as
    // mm_phash_neardups). Fixture-gated (perceptual hashes are
    // engine-specific); the committed fixture doubles as the
    // mm_frame_neardups restriction oracle.
    "mm_frame_pairs" -> ((s, dir) => {
      val frames = Multimodal.splitPngFrames(
        Multimodal.syntheticVideoFor(
          Tables.documents(s, dir).select(col("doc_id"))))
      Multimodal.phashNearDups(
          frames.select(col("frame_id").as("media_id"), col("payload")),
          maxHamming = 6)
        .orderBy(col("id1"), col("id2"))
    }),

    // CATALOG-SERVED full-run frame audit — mm_frame_pairs' 100 TB
    // shape (the r14/r15 "worst scaler" item): the cold gate re-splits
    // and re-decodes every video payload per run, pricing the one-shot
    // path; a standing deployment decodes once into the frame catalog
    // (bench-setup `frame_catalog_build` — 3 longs per frame) and every
    // subsequent full-corpus audit bands the cached hashes map-side.
    // Catalog rows ARE the hash pass's output, so the pair set equals
    // the cold gate's exactly — the committed mm_frame_pairs fixture is
    // the equality oracle verbatim (no new fixture).
    "mm_frame_pairs_catalog" -> ((s, dir) => {
      Multimodal.phashNearDupsIndexed(
          Multimodal.phashIndexFor(fullFrameCorpus(s, dir)), maxHamming = 6)
        .orderBy(col("id1"), col("id2"))
    }),

    // VIDEO-FRAME INCREMENTAL against the STANDING frame catalog — the
    // daily-ingest shape on moving media (the r13 stretch task): the 80%
    // split's frame hashes stand as the catalog (bench-setup
    // `frame_index_build`), a batch of new videos pays its own
    // split+decode+hash plus band equi-joins. frame_id = media_id·64 +
    // frame_idx, so batch membership is a closed-form id predicate and
    // the pair set ≡ the full-run fixture restricted to batch-touching
    // pairs — the minhash_incremental restriction logic on the frame
    // tier.
    "mm_frame_neardups" -> ((s, dir) => {
      val vids = Multimodal.syntheticVideoFor(
        Tables.documents(s, dir).select(col("doc_id")))
      // splitPngFramesFor: a STABLE frame-stream plan per video split, so
      // phashIndexFor's semantic-hash memo actually resolves the
      // bench-setup `frame_index_build` catalog (a fresh mapPartitions
      // closure per call canonicalizes unequal — the gate silently
      // rebuilt the standing catalog in-gate on every run)
      def frames(m: org.apache.spark.sql.DataFrame) =
        Multimodal.splitPngFramesFor(m)
          .select(col("frame_id").as("media_id"), col("payload"))
      val ix = Multimodal.phashIndexFor(
        frames(vids.filter(col("media_id") % 5 =!= 0)))
      Multimodal.incrementalPhashPairs(ix,
          frames(vids.filter(col("media_id") % 5 === 0)), maxHamming = 6)
        .orderBy(col("id1"), col("id2"))
    }),

    // ---------------------------------------------------------------
    // D3 (distributed form) — 3x3 Gaussian blur as ONE explode+aggregate
    // stencil pass on long format, interior-only; exact-oracle variant of
    // the ImageKernels.gaussianBlur kernel.
    "d3_blur_stencil" -> ((s, dir) => {
      val img = Relational.syntheticImage(s, 64, 64).withColumn("image_id", lit(0L))
      Stencil.convolve(img, Stencil.gaussian3x3Taps(0.5), 64, 64)
        .select(col("image_id"), col("y"), col("x"), round(col("out"), 6).as("out"))
        .orderBy(col("y"), col("x"))
    }),

    // E12 (distributed form) — mean SSIM between a gradient image and a
    // deterministic distortion of it, one stencil pass for all five
    // windowed moments; interior-only windows make it skimage-exact AND
    // SQL-reproducible.
    "e12_ssim_stencil" -> ((s, dir) => {
      val pairs = Relational.gradientImage(s, 4, 32, 32)
        .withColumn("a", col("v").cast("double"))
        .withColumn("b", least(lit(255.0),
          col("v").cast("double") * 0.9 + (col("y") * 3 + col("x") + col("image_id") * 7) % 29))
      Stencil.meanSsim(pairs, 32, 32)
        .select(col("image_id"), round(col("mssim"), 6).as("mssim"))
        .orderBy(col("image_id"))
    }),

    // D12 (distributed form) — Sobel gradient magnitude, both direction
    // kernels in one stencil pass; integer taps keep sums engine-exact.
    "d12_sobel_stencil" -> ((s, dir) => {
      val img = Relational.syntheticImage(s, 64, 64).withColumn("image_id", lit(0L))
      Stencil.sobelMagnitude(img, 64, 64)
        .select(col("image_id"), col("y"), col("x"), col("gx"), col("gy"),
          round(col("magnitude"), 6).as("magnitude"))
        .orderBy(col("y"), col("x"))
    }),

    // ---------------------------------------------------------------
    // A3 — 3-D volume → middle-slice select (`preprocessor.py:50-58`): the
    // NIfTI load keeps only slice z = nSlices/2; on long format that's a
    // partition-prunable filter, plus per-slice stats proving the slice.
    "a3_volume_slice" -> ((s, dir) => {
      // synthetic 8-slice volume, 16x16 per slice, v = (z*7 + y*4 + 2x) % 256
      val vol = s.range(8L * 16 * 16).select(
        expr("id div 256").as("z"),
        expr("(id % 256) div 16").as("y"),
        (col("id") % 16).as("x"))
        .withColumn("v", (col("z") * 7 + col("y") * 4 + col("x") * 2) % 256)
      vol.filter(col("z") === lit(8 / 2))
        .groupBy(col("z"))
        .agg(count(lit(1)).as("n_pixels"),
          round(avg(col("v")), 6).as("mean_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy(col("z"))
    }),

    // ---------------------------------------------------------------
    // §2.I — HLL-style approximate distinct (engine-specific estimate —
    // fixture-gated; HLL merges are order-independent, so the estimate is
    // deterministic) alongside the exact distinct per group.
    "i1_distinct_counts" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(countDistinct(col("lang")).as("n_langs_exact"),
          approx_count_distinct(col("doc_id")).as("n_docs_approx"))
        .orderBy(col("source"))
    }),

    // ---------------------------------------------------------------
    // North-star: IVF ANN — k-means-lite inverted lists, queries probe the
    // nProbe nearest centroid lists only (fixture-gated: centroid
    // iterations are engine-specific float accumulations, verified
    // bit-stable across sessions and thread counts before gating).
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.ivfTopK(queries, emb, 5, nCentroids = 16, nProbe = 4, lloydIters = 1)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // RADIUS (range) SEARCH, exact tier — "every corpus vector within
    // cosine >= t", the retrieval shape for all-candidates near-dup
    // sweeps where top-k's fixed k truncates dense neighborhoods. No
    // ranking anywhere in the plan: scan → broadcast-join → threshold
    // filter, output-sized result. The ONE ANN gate with a true
    // EXTERNAL oracle — DuckDB recomputes the cosines itself via
    // list_cosine_similarity over the same parquet (no committed
    // fixture, no engine-vs-engine comparison); the sf0.01 margins are
    // measured (nearest pair to the 0.3 threshold: 1.3e-4; nearest
    // rounded value to a 6-dp half-boundary: 2e-8 — both orders of
    // magnitude beyond cross-engine double noise).
    "ann_range_exact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.cosineRange(queries, emb, minCos = 0.3)
        .orderBy(col("q_id"), col("c_id"))
    }),

    // ---------------------------------------------------------------
    // RADIUS SEARCH over the BUILT IVF index (the scale tier): probes
    // restrict each query to its nProbe inverted lists; the threshold
    // filters exact cosines inside them. Lossless at full probe (the
    // lists partition the corpus — RangeSearchSpec gates the closed-form
    // equivalence to cosineRange); at the nProbe=4 operating point the
    // result is a SUBSET of ann_range_exact with identical cos values,
    // fixture-gated like the other partial-probe ANN tiers. Serves from
    // the same (16,1) IVF memo entry ann_ivf_topk uses — zero training
    // jobs in this line.
    "ann_range_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val index = Similarity.ivfIndexFor(emb, nCentroids = 16, lloydIters = 1)
      Similarity.ivfRangeIndexed(queries, index, minCos = 0.3, nProbe = 4)
        .orderBy(col("q_id"), col("c_id"))
    }),

    // ---------------------------------------------------------------
    // RADIUS SEARCH over the COMPRESSED (IVF-PQ) index — the 100 TB
    // shape: the ADC scan shortlists pairs clearing minCos − slack
    // without touching raw vectors; only candidates probe the corpus
    // once for the exact cosine, and the true threshold filters on it.
    // Quantization can LOSE candidates, never admit false pairs or
    // drift a score (the verify stage runs the exact scorer) —
    // SimilaritySpec gates both containments closed-form. Serves from
    // the same (16,1,16,32,1) memo entry as ann_ivfpq_topk; fixture-
    // gated at the nProbe=4 operating point like the other partial-
    // probe tiers.
    "ann_range_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val index = Similarity.ivfPqIndexFor(emb,
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      Similarity.ivfPqRangeIndexed(queries, index, minCos = 0.3,
          nProbe = 4, slack = 0.05)
        .orderBy(col("q_id"), col("c_id"))
    }),

    // ---------------------------------------------------------------
    // CROSS-CATALOG CONSISTENCY REPORT — the governance audit a
    // three-structure deployment runs after every ingest day: the dedup
    // catalog and embedding catalog hold SEEN semantics (every arrived
    // doc/vector), the ANN index holds ACCEPTED semantics (survivors of
    // the keep-first drop policy), and the report counts the referential
    // invariants between them as relational anti-/semi-join counts —
    // served-but-never-seen vectors (must be 0), embedding-catalog
    // members without a dedup-catalog doc (must be 0), and
    // dropped-but-still-served leaks (must be 0, the
    // right-to-be-forgotten mirror of retention_pipeline's check) —
    // alongside the membership counts themselves. Same composition as
    // ingest_pipeline (base %5≠0 standing, batch %5=0, threshold 0.5),
    // so the oracle is CLOSED-FORM: counts derive from the base tables
    // plus the committed minhash fixture under the incremental
    // restriction, and every invariant row is a literal 0. All joins are
    // id-only (vector-free) frames — at 100 TB each audit join
    // broadcasts ids or shuffles longs, never embeddings.
    "catalog_consistency_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val dIndex = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      val grownDedup = Dedup.dedupIndexAppend(dIndex,
        docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"))
      val pairs = Dedup.incrementalMinHashPairs(dIndex,
        docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"),
        threshold = 0.5)
      // LINEAGE CUT at the policy handoff (the ingest_pipeline_policy
      // pattern, guide §5 / §3.3 "materialise an intermediate to truncate
      // the plan"): `dropped` has THREE consumers below (the survivor
      // anti-join feeding the ANN append, the dropped_by_policy count,
      // and the dropped_still_served semi-join) and each re-ran the whole
      // incremental-minhash pipeline — profiled as 4× and 7× repeats of
      // the same batch-shingle stages (~1 s each at sf0.1). The
      // checkpoint is batch-sized (dropped ids only); rows unchanged.
      val dropped = IngestServing.keepFirstDropped(pairs,
          docs.filter(col("doc_id") % 5 === 0))
        .select(col("doc_id").as("vec_id"))
        .localCheckpointTracked()
      val survivors = emb.filter(col("vec_id") % 5 === 0)
        .join(dropped, Seq("vec_id"), "left_anti")
        .localCheckpointTracked()
      val base = Similarity.ivfPqIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      val grownAnn = Similarity.ivfPqIndexAppend(base, survivors)
      val embIx = Dedup.embIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 4)
      val grownEmb = Dedup.embIndexAppend(embIx,
        emb.filter(col("vec_id") % 5 === 0), col("vec_id"), col("embedding"))
      val dedupIds = grownDedup.staged.select(col("doc_id").as("id"))
      val embIds = grownEmb.vecs.select(col("vec_id").as("id"))
      val annIds = grownAnn.corpus.select(col("c_id").as("id"))
      def metricRow(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("value"))
          .select(lit(name).as("metric"), col("value"))
      metricRow("seen_docs", dedupIds)
        .unionByName(metricRow("seen_embeddings", embIds))
        .unionByName(metricRow("served_vectors", annIds))
        .unionByName(metricRow("dropped_by_policy", dropped))
        .unionByName(metricRow("ann_not_in_emb",
          annIds.join(embIds, Seq("id"), "left_anti")))
        .unionByName(metricRow("emb_not_in_dedup",
          embIds.join(dedupIds, Seq("id"), "left_anti")))
        .unionByName(metricRow("dropped_still_served",
          annIds.join(dropped.select(col("vec_id").as("id")),
            Seq("id"), "left_semi")))
        .orderBy(col("metric"))
    }),

    // ---------------------------------------------------------------
    // ANN via PRODUCT QUANTIZATION (Similarity.pqTopK — PQ-ADC): the
    // compression tier of the ANN ladder (64× smaller corpus residency
    // than raw floats at m=8, ksub=16). Codebooks train jointly across
    // subspaces in one pipeline; scoring is a code-table equi-join
    // against a broadcast distance table with integer nano-unit sums.
    "ann_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.pqTopK(queries, emb, 5, m = 8, ksub = 16, lloydIters = 1)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // IVF-PQ (Similarity.ivfPqTopK — IVFADC): the billion-scale ANN
    // composition. Coarse probes restrict each query to nProbe inverted
    // lists; the PQ ADC table scores ONLY those candidates — neither
    // stage touches the |Q|x|C| pair space. Fixture-gated like the other
    // approximate ANN variants (bit-stable: integer-quantized ADC sums,
    // deterministic seeds/ties on both quantizer tiers). The index is
    // resolved through the build-once memo (Similarity.ivfPqIndexFor), so
    // this gate and ann_ivfpq_rerank share ONE training run per session —
    // Bench builds it in its setup phase and reports the build time as a
    // separate line, so the query lines measure serving.
    "ann_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.ivfPqTopK(queries, emb, 5,
          nCentroids = 16, nProbe = 4, coarseIters = 1,
          m = 16, ksub = 32, pqIters = 1)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // IVF-PQ + EXACT RE-RANK (Similarity.ivfPqRerankTopK): the standard
    // production two-stage retrieval — the compressed index shortlists
    // rerank=20 deep, then only those pairs score with the exact cosine.
    // Recall approaches the coarse-probe ceiling (see ann_recall_report).
    // Shares the built index with ann_ivfpq_topk (identical parameters →
    // same memo entry) instead of re-training it per call.
    "ann_ivfpq_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.ivfPqRerankTopK(queries, emb, 5, rerank = 20,
          nCentroids = 16, nProbe = 4, coarseIters = 1,
          m = 16, ksub = 32, pqIters = 1)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // DEEPER PARAMETER POINT of the IVF ladder: nProbe=8 doubles the
    // probed inverted lists (half the corpus at nCentroids=16), raising
    // the coarse-quantization recall ceiling. Gated alongside the
    // nProbe=4 point so ann_recall_report reads the ladder at TWO
    // operating points — the recall/cost trade-off is measured, not
    // asserted.
    "ann_ivf_topk_p8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.ivfTopK(queries, emb, 5, nCentroids = 16, nProbe = 8, lloydIters = 1)
        .orderBy(col("q_id"), col("rank"))
    }),

    // IVF-PQ + exact re-rank at the deeper point (nProbe=8, rerank=50):
    // with a 50-deep shortlist scored exactly, recall should MEET the
    // nProbe=8 IVF ceiling — the quantization-independence guarantee
    // SimilaritySpec pins, here measured at gate scale. Same build
    // parameters as ann_ivfpq_topk → shares the one trained index
    // through the memo; only the query-time probe/shortlist deepen.
    "ann_ivfpq_rerank_p8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.ivfPqRerankTopK(queries, emb, 5, rerank = 50,
          nCentroids = 16, nProbe = 8, coarseIters = 1,
          m = 16, ksub = 32, pqIters = 1)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // INDEX PERSISTENCE ROUNDTRIP — the production artifact lifecycle:
    // the memoized gate-parameter index is SAVED to parquet once per
    // process (Bench does it in its setup phase as `ann_index_save`, so
    // this query line measures LOAD+SERVE only; Verify saves lazily on
    // first call), LOADED back (fresh artifact frames, no retraining),
    // and served. The save path is keyed by PID and sf-dir: two harness
    // processes on one machine previously raced on a fixed tmpdir path —
    // one overwriting while the other loads. The oracle is the committed
    // ann_ivfpq_topk fixture itself: save→load must change NOTHING about
    // the served ranking (integer ADC terms + id tie-breaks make it
    // storage-partitioning-independent), so this gate hard-pins
    // loaded-serving ≡ built-serving row for row.
    "ann_index_roundtrip" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val path = savedPath("ivfpq", dir)
      if (!new java.io.File(path, "meta").isDirectory) {
        Similarity.ivfPqIndexFor(emb,
          nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1).save(path)
      }
      val loaded = Similarity.IvfPqIndex.load(s, path)
      Similarity.ivfPqTopKIndexed(queries, loaded, 5, nProbe = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // INCREMENTAL INDEX APPEND — corpus freshness without retraining
    // (FAISS `add` semantics): the index trains on the 80% of vectors
    // with vec_id % 5 != 0, the remaining 20% append through the frozen
    // quantizers (assignment + residual coding only), and the standard
    // query set serves against the grown index. Fixture-gated like the
    // other trained-ANN variants (train-on-subset + deterministic
    // append coding — bit-stable).
    "ann_index_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = Similarity.ivfPqIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      val appended = Similarity.ivfPqIndexAppend(base,
        emb.filter(col("vec_id") % 5 === 0))
      Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0),
          appended, 5, nProbe = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // RETENTION DELETE on the standing ANN index — FAISS remove_ids
    // semantics (StandingIndex.remove): the full-corpus standing
    // index sheds vec_id % 5 == 0 through broadcast anti-joins on its
    // keyed frames (quantizers untouched — no remaining vector's
    // assignment or code changes), and the standard query set serves
    // against the shrunk index. The in-gate require pins that removal
    // genuinely shrank the corpus — without it a silently no-op remove
    // would regenerate a full-corpus fixture and gate nothing.
    // Fixture-gated like the other trained-ANN tiers (anti-join of
    // bit-stable frames is bit-stable).
    "ann_index_remove" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val full = Similarity.ivfPqIndexFor(emb,
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      val shrunk = full.remove(
        emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
      require(shrunk.corpus.count() < full.corpus.count(),
        "ann_index_remove gate: removal did not shrink the corpus — a " +
          "no-op remove would serve the full index and gate nothing")
      Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0),
          shrunk, 5, nProbe = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // UPDATE = REMOVE + RE-APPEND under the same ids (the production
    // update path the append scaladoc prescribes — re-coding an existing
    // id in place would double its ADC sums, so an update is a delete
    // followed by an add through the frozen quantizers). CLOSED-FORM
    // ORACLE with no new fixture: append runs the bit-identical
    // post-training pipeline the build ran, so remove∘append-back
    // restores the full index frame-for-frame and serving must equal the
    // committed ann_ivfpq_topk fixture exactly. Self-honest composition:
    // a silently no-op remove would make the re-append THROW on id
    // clash, and a lossy remove would leave the served ranking short.
    "ann_index_update" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val full = Similarity.ivfPqIndexFor(emb,
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      val shrunk = full.remove(
        emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
      val updated = Similarity.ivfPqIndexAppend(shrunk,
        emb.filter(col("vec_id") % 5 === 0))
      Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0),
          updated, 5, nProbe = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // INDEX COMPACTION — the LSM-style merge for the append path: each
    // ivfPqIndexAppend CONCATENATES a batch's partitions into the keyed
    // frames, so after k daily appends every serving scan schedules k×
    // the tasks and drags a k-deep union lineage through analysis,
    // independent of data size. compact() hash-repartitions
    // corpus/assigned/codes on c_id to the session parallelism and cuts
    // lineage at a fresh artifact boundary. Content untouched; serving
    // is partition-independent (suite-wide invariant), so
    // append→compact→serve must equal the committed ann_index_append
    // fixture row for row — the closed-form oracle, no new fixture.
    "ann_index_compact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = Similarity.ivfPqIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      val appended = Similarity.ivfPqIndexAppend(base,
        emb.filter(col("vec_id") % 5 === 0))
      val compacted = appended.compact()
      Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0),
          compacted, 5, nProbe = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // COMPACTION POLICY on the ANN index — the merge-cadence actuator
    // (StandingIndex.compactIfFragmented): the 20% append arrives
    // as FOUR sub-batches (vec_id % 20 ∈ {0,5,10,15}), each repartitioned
    // to the width a production batch read actually has (at sf0.01 the
    // whole table is one parquet sliver, so an un-repartitioned batch
    // would contribute a single partition and mask exactly the
    // fragmentation the policy exists to bound). The corpus frame
    // concatenates 4×16 batch partitions past the bound (pinned just
    // above the base width) and the arm must fire — the in-gate require
    // keeps a no-op policy from gating nothing. Per-vector assignment
    // and coding make four sub-appends content-identical to
    // ann_index_append's single append, and serving is
    // partition-independent (repartition included), so the policy-fired
    // serve must equal the committed append fixture row for row —
    // closed-form, no new fixture.
    "ann_compact_policy" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = Similarity.ivfPqIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      val baseWidth = Seq(base.corpus, base.assigned, base.codes)
        .map(_.rdd.getNumPartitions).max
      val appended = (0 until 4).foldLeft(base) { (ix, j) =>
        Similarity.ivfPqIndexAppend(ix,
          emb.filter(col("vec_id") % 20 === j * 5).repartition(16))
      }
      val (served, fired) = appended.compactIfFragmented(
        maxPartitions = Some(baseWidth + 2))
      require(fired, "ann_compact_policy gate: the width arm did not fire " +
        "— an uncompacted index would serve and gate nothing")
      Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0),
          served, 5, nProbe = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // COMPOSED RETENTION — the batch mirror of streaming/RetentionServing
    // (the tombstone face of ingest_pipeline): the auto-geometry standing
    // index sheds vec_id % 5 == 0, then BOTH policies judge the shrunk
    // index. The geometry policy must NOT fire — a 20% deletion moves √N
    // well inside the 1.3 drift factor, and a right-sized index must not
    // retrain on routine churn (the no-fire arm is the exercised path,
    // pinned by the require). The compaction policy's EMPTINESS arm must
    // fire — removal sheds rows at constant width, so rows-per-partition
    // falls below the standing layout's own build density, computed
    // in-gate from the standing index (derive-don't-pin). The standard
    // query set serves at the policy-returned operating point.
    // Fixture-gated: anti-join + repartition of bit-stable frames is
    // bit-stable, and the content equals remove-only serving since both
    // policies are content-preserving on the no-fire/compact paths.
    "retention_pipeline" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (full, _) = Similarity.ivfPqAutoIndexFor(emb)
      val width = Seq(full.corpus, full.assigned, full.codes)
        .map(_.rdd.getNumPartitions).max
      // floor at 1: integer division would zero the density when the
      // corpus is smaller than the partition width, silently disabling
      // the emptiness arm and failing the require with a misleading
      // "arm did not fire" at tiny scales
      val buildDensity = math.max(1L, full.corpus.count() / width)
      val shrunk = full.remove(
        emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
      val (afterGeom, np, rebuilt) = Similarity.ivfPqRebuildIfStale(shrunk)
      require(!rebuilt, "retention_pipeline gate: a 20% deletion must not " +
        "trip the geometry policy — the no-fire arm is the exercised path")
      val (served, fired) = afterGeom.compactIfFragmented(
        maxPartitions = Some(width), minRowsPerPartition = buildDensity)
      require(fired, "retention_pipeline gate: the emptiness arm did not " +
        "fire — removal at constant width must drop density below build's")
      Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0),
          served, 5, nProbe = np)
        .orderBy(col("q_id"), col("rank"))
    }),

    // FOUR-FAMILY RETENTION — ONE tombstone set (ids % 7 == 0; vec_id =
    // media_id = doc_id, the ingest-side convention) leaves EVERY
    // standing structure, then each family serves its incremental/query
    // verb against the shrunk state: a right-to-be-forgotten event that
    // reaches the text catalog but not the image or vector tiers is not
    // a takedown (the r13 verdict's symmetry gap — RetentionServing now
    // rolls all four; this is its batch-truth composition). Absent ids
    // are ignored by every remove (the % 5 == 0 tombstones are not in
    // the three % 5 ≠ 0 catalogs) — the idempotent-replay semantics the
    // streaming arm pins. ORACLES: the dedup/emb/phash legs are
    // CLOSED-FORM restrictions of their committed full-run fixtures
    // (batch-touching pairs with no removed standing endpoint — per-doc
    // member rows make remove ≡ fresh build over corpus∖removed); the
    // ANN leg is the engine-specific ranking, carried by this gate's own
    // committed fixture like every trained-ANN tier. The requires make a
    // silently no-op removal fail loudly in any family.
    "retention_pipeline_full" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val media = Multimodal.syntheticMediaFor(docs.select(col("doc_id")))
      val tomb = docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"))
      // text catalog
      val dIx = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      val dShrunk = dIx.remove(tomb)
      require(dShrunk.rows.exists(_ < dIx.rowCount),
        "retention_pipeline_full: the dedup removal was a no-op")
      val dOut = Dedup.incrementalMinHashPairs(dShrunk,
          docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"),
          threshold = 0.5)
        .select(lit("dedup").as("family"), col("id1"), col("id2"),
          col("jaccard").as("score"))
      // embedding catalog
      val eIx = Dedup.embIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 4)
      val eShrunk = eIx.remove(tomb.select(col("doc_id").as("vec_id")))
      require(eShrunk.rows.exists(_ < eIx.rowCount),
        "retention_pipeline_full: the embedding removal was a no-op")
      val eOut = Dedup.incrementalEmbeddingNearDups(eShrunk,
          emb.filter(col("vec_id") % 5 === 0), col("vec_id"),
          col("embedding"), threshold = 0.3)
        .select(lit("emb").as("family"), col("id1"), col("id2"),
          col("cosine").as("score"))
      // phash catalog
      val pIx = Multimodal.phashIndexFor(
        media.filter(col("media_id") % 5 =!= 0))
      val pShrunk = pIx.remove(tomb.select(col("doc_id").as("media_id")))
      require(pShrunk.rows.exists(r => pIx.rows.forall(r < _)),
        "retention_pipeline_full: the phash removal was a no-op")
      val pOut = Multimodal.incrementalPhashPairs(pShrunk,
          media.filter(col("media_id") % 5 === 0), maxHamming = 6)
        .select(lit("phash").as("family"), col("id1"), col("id2"),
          col("hamming").cast("double").as("score"))
      // ANN index (full corpus — every id is present, so the same
      // tombstones remove 1/7 of it)
      val aIx = Similarity.ivfPqIndexFor(emb,
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      val aShrunk = aIx.remove(tomb.select(col("doc_id").as("vec_id")))
      require(aShrunk.corpus.count() < emb.count(),
        "retention_pipeline_full: the ANN removal was a no-op")
      val aOut = Similarity.ivfPqTopKIndexed(
          emb.filter(col("vec_id") % 50 === 0), aShrunk, 5, nProbe = 4)
        .select(lit("ann").as("family"), col("q_id").as("id1"),
          col("c_id").as("id2"), col("cos").as("score"))
      dOut.unionByName(eOut).unionByName(pOut).unionByName(aOut)
        .orderBy(col("family"), col("id1"), col("id2"))
    }),

    // ---------------------------------------------------------------
    // FILTERED SEARCH, exact tier — brute-force cosine top-k restricted
    // by a metadata predicate (label=2), the oracle-able baseline of the
    // vector-DB "filtered search" surface. Closed-form SQL oracle.
    "ann_filtered_exact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopKFiltered(emb.filter(col("vec_id") % 50 === 0),
          emb, 5, col("label") === 2)
        .orderBy(col("q_id"), col("rank"))
    }),

    // FILTERED SEARCH, index tier — the same predicate applied to the
    // IVF-PQ candidate lists BEFORE ADC scoring (post-filtering a top-k
    // would under-fill k and waste scoring on discarded rows). Probes
    // deepen to nProbe=8: a selective filter empties probed lists, the
    // recall caveat every vector DB documents. Fixture-gated like the
    // other trained-ANN variants.
    "ann_filtered_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = Similarity.ivfPqIndexFor(emb,
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      Similarity.ivfPqTopKFilteredIndexed(emb.filter(col("vec_id") % 50 === 0),
          index, emb.select(col("vec_id").as("c_id"), col("label")),
          col("label") === 2, 5, nProbe = 8)
        .orderBy(col("q_id"), col("rank"))
    }),

    // FILTERED RECALL at the gate's operating point — the committed
    // filtered-indexed ranking (ann_filtered_search fixture: nProbe=8,
    // label=2) measured against the filtered-EXACT ranking recomputed
    // live. The docs warn that selective filters empty probed lists; this
    // gate makes the warning a NUMBER: whether nProbe=8 actually holds
    // recall under the label=2 filter (~1/4 selectivity) is recorded,
    // not asserted. Same honest denominator as ann_recall_report
    // (5·|Q|, missing queries penalized).
    "ann_filtered_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val exact = Similarity.cosineTopKFiltered(queries, emb, 5, col("label") === 2)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      val nq = queries.agg(countDistinct(col("vec_id")).as("n_queries"))
      s.read.parquet(s"$fixturesDir/ann_filtered_search.parquet")
        .select(col("q_id"), col("c_id"))
        .join(exact, Seq("q_id", "c_id"), "left")
        .agg(count(lit(1)).as("n_ranked"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .crossJoin(broadcast(nq))
        .select(lit("ann_filtered_search").as("method"),
          col("n_ranked"), col("n_hits"),
          expr("(n_hits * 1000) div (5 * n_queries)").as("recall_permille"))
    }),

    // ---------------------------------------------------------------
    // SCALE-ADAPTIVE INDEX GEOMETRY (Similarity.ivfPqTopKAuto): the
    // geometry is DERIVED from the corpus count — nCentroids ≈ √N so
    // inverted lists stay √N-bounded, nProbe ≈ √nCentroids to hold the
    // recall operating point, quantizers trained on a deterministic
    // 128-per-centroid hash sample (assignment/coding still scan every
    // vector once). The fixed-geometry gates pin nCentroids=16, whose
    // per-query serving grows LINEARLY with the corpus; this entry point
    // is the plan that survives 10⁴ → 10¹⁰ vectors (probed rows ≈ N^¾).
    // Fixture-gated like the other trained-ANN tiers (hash-seeded
    // training and integer ADC sums are bit-stable); recall joins the
    // ladder in ann_operating_report.
    "ann_auto_geometry" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      Similarity.ivfPqTopKAuto(queries, emb, 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // RECALL-FLOOR OPERATING POINT — the quality curve's fix to match
    // auto-geometry's cost fix: same memoized auto index, probed at
    // nProbe = nc^¾ (probed cell fraction shrinks N^(−⅛), not N^(−¼))
    // with a constant-depth exact re-rank removing ADC error from the
    // final ordering. At sf0.01 this doubles measured recall@5 over the
    // plain auto point (720‰ vs 360‰); the ×30 probe record
    // (BENCH_RECALL_x30.json) carries the at-scale recall-vs-cost pair.
    // Fixture-gated like the other trained-ANN tiers; recall joins the
    // ladder in ann_operating_report.
    "ann_auto_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKAutoRerank(emb.filter(col("vec_id") % 50 === 0), emb, 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // FIXED-|Q| SCALE TWINS — the measurement that retires a prose
    // argument: every other ANN gate's query set is `vec_id % 50 = 0`,
    // so |Q| grows WITH the corpus and the gates' scale exponents read
    // |Q|-growth × per-query cost convolved together (a perfectly
    // linear-per-query scan shows 2.0/decade). These twins pin the
    // query set to `vec_id < 2000` — ScaleGen shifts copy ids by 10M,
    // so the predicate selects the SAME 2000 sf0.1 vectors at ×10/×30/
    // ×100 — and their BENCH_x* exponents are therefore the PER-QUERY
    // serving cost curve directly: the auto tier's probed-rows ≈ N^¾
    // story as a number, beside the pinned-16 contrast whose per-query
    // cost is linear by construction. Fixture-gated like the tiers they
    // twin (same engines, same bit-stable training).
    "ann_auto_topk_fixedq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKAuto(emb.filter(col("vec_id") < 2000), emb, 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    "ann_auto_rerank_fixedq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKAutoRerank(emb.filter(col("vec_id") < 2000), emb, 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    // the fixed-geometry contrast twin: nCentroids pinned at 16 while
    // the corpus grows — per-query cost LINEAR in N by construction, the
    // upper curve the auto twins are measured against. Shares the
    // (16,1,16,32,1) memo entry with ann_ivfpq_topk (no extra training).
    "ann_ivfpq_topk_fixedq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 2000), emb, 5,
          nCentroids = 16, nProbe = 4, coarseIters = 1,
          m = 16, ksub = 32, pqIters = 1)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // REBUILD POLICY — closes the append→drift loop: the 80%-trained
    // index (nCentroids=16) grows by the 20% batch, then
    // ivfPqRebuildIfStale reads the grown corpus count, finds
    // autoGeometry wants 22 ≥ 1.3×16 centroids, and REBUILDS at the
    // derived geometry through the bit-identical build path to
    // ivfPqAutoIndexFor (same sampled-training predicate). CLOSED-FORM
    // ORACLE: rebuilt-serving must equal fresh-auto-built serving on the
    // full corpus — the committed ann_auto_geometry fixture itself. The
    // require makes the gate fail loudly if the policy ever stops
    // firing here (a silent pass-through would alias the oracle).
    "ann_rebuild_policy" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = Similarity.ivfPqIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      val grown = Similarity.ivfPqIndexAppend(base, emb.filter(col("vec_id") % 5 === 0))
      val (served, np, rebuilt) = Similarity.ivfPqRebuildIfStale(grown)
      require(rebuilt, "ann_rebuild_policy gate: the staleness policy did " +
        "not fire — the gate would silently test pass-through serving")
      Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0),
          served, 5, np)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // WARM-START REBUILD — the fire-day cost fix for the policy above:
    // the cold rebuild re-trains quantizers and re-codes EVERY vector;
    // Similarity.ivfPqRebuildWarmStart keeps the surviving centroids and
    // their lists untouched, SPLITS only the (ncWant − ncHave) hottest
    // lists (deterministic 2-seed + one confined Lloyd step), and
    // re-assigns/re-codes only those members through the FROZEN codebook
    // — moved-members-sized fire-day work instead of corpus-sized. The
    // standing index here is auto-geometry over the 50% split (nc =
    // √250 = 16 at sf0.01; setup `ann_warm_base_build`); the other half
    // appends, the derived nc rises to 22 ≥ 1.3×16, and the warm path
    // must run (require). Structural invariants are self-derived and
    // scale-independent; serving is fixture-gated (frozen-quantizer
    // coding is per-vector and bit-stable) and the warm tier's measured
    // recall/MRR/nDCG ride ann_operating_report beside the cold tiers'.
    "ann_warm_rebuild" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (base, _) = Similarity.ivfPqAutoIndexFor(
        emb.filter(col("vec_id") % 2 === 1))
      val grown = Similarity.ivfPqIndexAppend(base,
        emb.filter(col("vec_id") % 2 === 0))
      val (warm, np, fired, warmPath) = Similarity.ivfPqRebuildWarmStart(grown)
      require(fired && warmPath, "ann_warm_rebuild gate: the warm path did " +
        "not run — a silent cold fallback would alias the cold gate")
      val n = warm.corpus.count()
      require(warm.centroids.count() == Similarity.autoGeometry(n)._1,
        "warm rebuild must reach the derived centroid count")
      require(warm.assigned.count() == n &&
        warm.assigned.select(col("c_id")).distinct().count() == n &&
        warm.codes.count() == n * warm.m,
        "warm rebuild must keep every vector assigned once and coded m×")
      Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0),
          warm, 5, np)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // POLICY-DRIVEN INGEST — the adaptive front door, composing the
    // round-9 policies in one query: the batch dedups against the
    // standing catalog through the QUARANTINED incremental path (hot
    // standing buckets resolved via the lossless prefix fallback, bound
    // = the health report's operating point — hottest bucket 3 ⇒ bound
    // 2); survivors (keep-first drop policy) append into the standing
    // ANN index; the grown index runs the REBUILD POLICY (geometry
    // drift 16 → √N fires here) and serves at the derived operating
    // point. Every stage is the oracle-pinned operator — the
    // composition is deterministic end-to-end and fixture-gated; the
    // in-gate require keeps the policy-fire honest. (The BUDGET-derived
    // bound stays in its standalone gate: its 175-pair operating point
    // is sf0.01-pinned, and at bench SFs it over-quarantines — bound 1
    // sends the whole batch through the t=0.5 prefix fallback, whose
    // half-document prefixes make it the wrong tool for a batch-sized
    // doc set at a recall-generous threshold.)
    "ingest_pipeline_policy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val dIndex = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      val pairs = Dedup.incrementalMinHashPairsQuarantined(dIndex,
        docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"),
        threshold = 0.5, maxBucket = 2)
      val dropped = IngestServing.keepFirstDropped(pairs,
          docs.filter(col("doc_id") % 5 === 0))
        .select(col("doc_id").as("vec_id"))
      // LINEAGE CUT at the dedup→ANN boundary: the survivor frame embeds
      // the whole quarantined-dedup logical plan, and every downstream
      // index-build action would re-run Catalyst analysis/optimization
      // over that tree even though execution reads caches — measured
      // 139 s → ~15 s for this line at sf0.1. The checkpoint is the
      // composition's handoff artifact (batch-sized rows).
      val survivors = emb.filter(col("vec_id") % 5 === 0)
        .join(dropped, Seq("vec_id"), "left_anti")
        .localCheckpointTracked()
      val base = Similarity.ivfPqIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      val grown = Similarity.ivfPqIndexAppend(base, survivors)
      val (served, np, rebuilt) = Similarity.ivfPqRebuildIfStale(grown)
      require(rebuilt, "ingest_pipeline_policy gate: the staleness policy " +
        "did not fire — the gate would silently serve frozen quantizers")
      Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0),
          served, 5, np)
        .orderBy(col("q_id"), col("rank"))
    }),

    // QUARANTINE POLICY on the embedding catalog — the bound DERIVED
    // from a candidate-pair budget (Dedup.embQuarantineBudgetBound, the
    // semantic-tier mirror of dedup_quarantine_budget): one
    // partial-aggregated bucket-size histogram, cumulative-cost scan by
    // ascending size, the largest bound whose within-bound join cost
    // fits the budget. The 4000-pair budget sits under the sf0.01
    // catalog's 5176-pair full join, so the derived bound must exclude
    // the hottest bucket (the require keeps that honest at every SF —
    // at larger corpora the budget simply quarantines more). Lossless
    // cell-join fallback ⇒ the same restriction oracle as
    // embdedup_quarantine.
    "embdedup_quarantine_budget" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = Dedup.embIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nPlanes = 4)
      val bound = Dedup.embQuarantineBudgetBound(index,
        maxCandidatePairs = 4000L)
      val hottest = index.vecs.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().getLong(0)
      require(bound < hottest,
        s"embdedup_quarantine_budget gate: the budget must exclude the " +
          s"hottest bucket (bound=$bound, hottest=$hottest) — the gate " +
          "would silently test a no-op")
      Dedup.embeddingNearDupsQuarantined(index, threshold = 0.3,
          maxBucket = bound)
        .orderBy(col("id1"), col("id2"))
    }),

    // ---------------------------------------------------------------
    // ROUTINE-DAY TWIN of ingest_pipeline_policy — the NO-FIRE arm,
    // gated: the fire-day line proves the policy rebuilds on drift, but
    // nothing proved it STAYS QUIET on a routine append at the derived
    // thresholds (the retention side has exactly this pair — the
    // geometry no-fire arm inside retention_pipeline). Here the standing
    // index is RIGHT-SIZED (auto-geometry over the 80% split: nc =
    // √400 = 20 at sf0.01; bench-setup `ann_auto_base_build`), the same
    // dedup→drop→survivors batch appends (~95 vectors, 400 → ~495:
    // autoGeometry wants 22 < 1.3×20), and the require pins that the
    // policy passes through — serving at the UNREBUILT operating point.
    // A policy that started firing on routine days would burn a
    // corpus-sized Lloyd per batch at 100 TB; this gate makes that a
    // loud failure instead of a silent cost. Fixture-gated (frozen-
    // quantizer appends are per-vector and bit-stable).
    "ingest_pipeline_nofire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val dIndex = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      val pairs = Dedup.incrementalMinHashPairs(dIndex,
        docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"),
        threshold = 0.5)
      val dropped = IngestServing.keepFirstDropped(pairs,
          docs.filter(col("doc_id") % 5 === 0))
        .select(col("doc_id").as("vec_id"))
      // same lineage cut as the policy gate — the handoff artifact
      val survivors = emb.filter(col("vec_id") % 5 === 0)
        .join(dropped, Seq("vec_id"), "left_anti")
        .localCheckpointTracked()
      val (base, _) = Similarity.ivfPqAutoIndexFor(
        emb.filter(col("vec_id") % 5 =!= 0))
      val grown = Similarity.ivfPqIndexAppend(base, survivors)
      val (served, np, rebuilt) = Similarity.ivfPqRebuildIfStale(grown)
      require(!rebuilt, "ingest_pipeline_nofire gate: a routine sub-drift " +
        "append must NOT fire the geometry policy — firing here means " +
        "every daily batch pays a corpus-sized retrain")
      Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0),
          served, 5, np)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // INGEST PIPELINE — the composed front door of a training-data
    // ingest: a batch (doc_id % 5 == 0) arrives; (1) incremental
    // near-dup against the STANDING dedup catalog (batch-cost bucket
    // joins only); (2) DROP POLICY, deterministic keep-first: a batch
    // doc drops iff it pairs at J≥0.5 with a standing-corpus doc or
    // with a smaller-id batch doc; (3) survivors' embeddings APPEND
    // into the standing ANN index through frozen quantizers (FAISS-add);
    // (4) the standard query set serves against the grown index. Both
    // standing structures come from bench-setup builds via the memos —
    // the query line measures the per-batch ingest work, the daily
    // shape. Fixture-gated (deterministic composition of two
    // bit-stable paths); SimilaritySpec pins composed ≡ stepwise.
    "ingest_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val dIndex = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      val pairs = Dedup.incrementalMinHashPairs(dIndex,
        docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"),
        threshold = 0.5)
      val dropped = IngestServing.keepFirstDropped(pairs,
          docs.filter(col("doc_id") % 5 === 0))
        .select(col("doc_id").as("vec_id"))
      // lineage cut at the dedup→ANN handoff — the policy/nofire twins'
      // pattern (batch-sized checkpoint; rows unchanged): without it every
      // append/serve action re-analyzes the whole incremental-dedup plan
      // (profiled: ~2.4 s of driver-only gaps between this gate's jobs)
      val survivors = emb.filter(col("vec_id") % 5 === 0)
        .join(dropped, Seq("vec_id"), "left_anti")
        .localCheckpointTracked()
      val base = Similarity.ivfPqIndexFor(emb.filter(col("vec_id") % 5 =!= 0),
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      val grownIx = Similarity.ivfPqIndexAppend(base, survivors)
      Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0),
          grownIx, 5, nProbe = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // OPERATING REPORT — the one ops-facing artifact a retrieval team
    // reads: recall@5, MRR@5, nDCG@5 per committed ANN tier (including
    // the auto-geometry tier), the filtered-search recall at its gate
    // operating point, and the index health summary (list imbalance,
    // measured ADC error), all as one long-format integer table
    // (method, metric, value). Unions the SAME integer pipelines the
    // individual gates run — nothing new is measured, the trade-off
    // surface is just joined into one relational result.
    "ann_operating_report" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val exact = Similarity.cosineTopK(queries, emb, 5)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      val nq = queries.agg(countDistinct(col("vec_id")).as("n_queries"))
      val gain = when(col("rank") === 1, 1000000L)
        .when(col("rank") === 2, 630930L)
        .when(col("rank") === 3, 500000L)
        .when(col("rank") === 4, 430677L)
        .when(col("rank") === 5, 386853L)
        .otherwise(0L)
      val perMethod =
        Seq("ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk",
            "ann_ivfpq_rerank", "ann_ivf_topk_p8", "ann_ivfpq_rerank_p8",
            "ann_auto_geometry", "ann_auto_rerank", "ann_warm_rebuild")
          .map { name =>
            s.read.parquet(s"$fixturesDir/$name.parquet")
              .select(lit(name).as("method"), col("q_id"), col("rank"), col("c_id"))
          }.reduce(_.unionByName(_))
          .join(exact, Seq("q_id", "c_id"), "left")
          .groupBy(col("method"), col("q_id"))
          .agg(min(when(col("hit") === 1, col("rank"))).as("first_rel"),
            sum(when(col("hit") === 1, gain).otherwise(lit(0L))).as("dcg"),
            sum(coalesce(col("hit"), lit(0L))).as("hits"))
          .groupBy(col("method"))
          .agg(sum(col("hits")).as("__n_hits"),
            sum(coalesce(expr("1000000 div first_rel"), lit(0L))).as("__rr_sum"),
            sum(expr("(dcg * 1000000) div 2948460")).as("__ndcg_sum"))
          .crossJoin(broadcast(nq))
          .select(col("method"), explode(array(
            struct(lit("recall_permille").as("metric"),
              expr("(__n_hits * 1000) div (5 * n_queries)").as("value")),
            struct(lit("mrr_micro").as("metric"),
              expr("__rr_sum div n_queries").as("value")),
            struct(lit("ndcg_micro").as("metric"),
              expr("__ndcg_sum div n_queries").as("value")))).as("r"))
          .select(col("method"), col("r.metric").as("metric"), col("r.value").as("value"))
      val filteredExact = Similarity.cosineTopKFiltered(queries, emb, 5,
          col("label") === 2)
        .select(col("q_id"), col("c_id"), lit(1L).as("fhit"))
      val filteredRow = s.read.parquet(s"$fixturesDir/ann_filtered_search.parquet")
        .select(col("q_id"), col("c_id"))
        .join(filteredExact, Seq("q_id", "c_id"), "left")
        .agg(sum(coalesce(col("fhit"), lit(0L))).as("__n_hits"))
        .crossJoin(broadcast(nq))
        .select(lit("ann_filtered_search").as("method"),
          lit("filtered_recall_permille").as("metric"),
          expr("(__n_hits * 1000) div (5 * n_queries)").as("value"))
      val indexRows = s.read.parquet(s"$fixturesDir/ann_index_health.parquet")
        .filter(col("metric").isin(
          "imbalance_permille", "adc_err_micro_avg", "adc_err_micro_max"))
        .select(lit("index").as("method"), col("metric"), col("value"))
      // the RANGE tiers' measured recall/size beside the top-k tiers' —
      // one report spans both retrieval shapes (the radius ladder's
      // committed fixtures against the exact range recomputed live,
      // same construction as ann_range_recall)
      val rangeExact = Similarity.cosineRange(queries, emb, minCos = 0.3)
        .select(col("q_id"), col("c_id"), lit(1L).as("rhit"))
        .persistTracked() // two consumers: the recall join and the size agg
      val nRangeExact = rangeExact.agg(count(lit(1)).as("n_exact"))
      val rangeRows =
        Seq("ann_range_search", "ann_range_rerank")
          .map(name => s.read.parquet(s"$fixturesDir/$name.parquet")
            .select(lit(name).as("method"), col("q_id"), col("c_id")))
          .reduce(_.unionByName(_))
          .join(rangeExact, Seq("q_id", "c_id"), "left")
          .groupBy(col("method"))
          .agg(count(lit(1)).as("__n_found"),
            sum(coalesce(col("rhit"), lit(0L))).as("__n_true"))
          .crossJoin(broadcast(nRangeExact))
          .select(col("method"), explode(array(
            struct(lit("range_found").as("metric"),
              col("__n_found").as("value")),
            struct(lit("range_recall_permille").as("metric"),
              expr("(__n_true * 1000) div n_exact").as("value")))).as("r"))
          .select(col("method"), col("r.metric").as("metric"),
            col("r.value").as("value"))
      perMethod.unionByName(filteredRow).unionByName(rangeRows)
        .unionByName(indexRows)
        .orderBy(col("method"), col("metric"))
    }),

    // ---------------------------------------------------------------
    // RANKING METRICS (MRR@5, nDCG@5) — the retrieval-eval complement to
    // ann_recall_report: recall ignores WHERE in the top-k the relevant
    // items land; MRR rewards the first relevant hit's position and nDCG
    // the whole ranked order. Relevance = membership in the exact
    // brute-force top-5 (recomputed live, same as the recall gate). All
    // arithmetic is integer micro-units: reciprocal rank as
    // 1000000 div rank, DCG position gains as the CONSTANT quantized
    // table round(1e6/log2(i+1)) — both engines hardcode the same five
    // integers, so no float log crosses the gate — and per-query nDCG as
    // dcg·1e6 div IDCG@5 (=2948460, all five positions relevant).
    // Missing queries (thin buckets) contribute zero: sums divide by the
    // FULL query count, mirroring the recall gate's honest denominator.
    "ann_ranking_metrics" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val exact = Similarity.cosineTopK(queries, emb, 5)
        .select(col("q_id"), col("c_id"), lit(1L).as("rel"))
      val nq = queries.agg(countDistinct(col("vec_id")).as("n_queries"))
      val gain = when(col("rank") === 1, 1000000L)
        .when(col("rank") === 2, 630930L)
        .when(col("rank") === 3, 500000L)
        .when(col("rank") === 4, 430677L)
        .when(col("rank") === 5, 386853L)
        .otherwise(0L)
      Seq("ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk",
          "ann_ivfpq_rerank", "ann_ivf_topk_p8", "ann_ivfpq_rerank_p8")
        .map { name =>
          s.read.parquet(s"$fixturesDir/$name.parquet")
            .select(lit(name).as("method"), col("q_id"), col("rank"), col("c_id"))
        }.reduce(_.unionByName(_))
        .join(exact, Seq("q_id", "c_id"), "left")
        .groupBy(col("method"), col("q_id"))
        .agg(min(when(col("rel") === 1, col("rank"))).as("first_rel"),
          sum(when(col("rel") === 1, gain).otherwise(lit(0L))).as("dcg"))
        .groupBy(col("method"))
        .agg(
          sum(coalesce(expr("1000000 div first_rel"), lit(0L))).as("__rr_sum"),
          sum(expr("(dcg * 1000000) div 2948460")).as("__ndcg_sum"))
        .crossJoin(broadcast(nq))
        .select(col("method"),
          expr("__rr_sum div n_queries").as("mrr_micro"),
          expr("__ndcg_sum div n_queries").as("ndcg_micro"))
        .orderBy(col("method"))
    }),

    // ---------------------------------------------------------------
    // INDEX HEALTH REPORT — per-list balance + measured ADC quantization
    // error of the gate-parameter index (Similarity.ivfPqIndexHealth):
    // the ops metrics that decide nProbe tuning and rebuild cadence.
    // Integer-only long format; fixture-gated (kmeans lists are
    // engine-specific, bit-stable).
    "ann_index_health" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = Similarity.ivfPqIndexFor(emb,
        nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
      Similarity.ivfPqIndexHealth(index, emb.filter(col("vec_id") % 50 === 0),
          k = 5, nProbe = 4)
        .orderBy(col("metric"), col("key"))
    }),

    // ---------------------------------------------------------------
    // ANN RECALL REPORT — the evaluation harness over the approximate
    // tiers: recall@5 of each committed ANN ranking (LSH / IVF / PQ /
    // IVF-PQ fixtures) against the EXACT brute-force ranking recomputed
    // live. "Measure, don't guess": every approximate path carries its
    // measured recall as a first-class relational result. The fixtures
    // are sf0.01-pinned (like the rest of the fixture family), so the
    // sf0.01 gate is the meaningful read; the oracle recomputes the exact
    // ranking in SQL and replays the same join. One broadcast-sized union
    // of fixture rankings left-joins the exact pair set — integers only.
    // recall_permille divides by the FULL k·|Q| opportunity set (not by
    // the rows a method happened to return): a tier whose thin buckets
    // return fewer than k rows is penalized for the misses, so the column
    // is true recall@5 — precision-of-retrieved would read higher.
    "ann_recall_report" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val exact = Similarity.cosineTopK(queries, emb, 5)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      val nq = queries.agg(countDistinct(col("vec_id")).as("n_queries"))
      Seq("ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk",
          "ann_ivfpq_rerank", "ann_ivf_topk_p8", "ann_ivfpq_rerank_p8")
        .map { name =>
          s.read.parquet(s"$fixturesDir/$name.parquet")
            .select(lit(name).as("method"), col("q_id"), col("c_id"))
        }.reduce(_.unionByName(_))
        .join(exact, Seq("q_id", "c_id"), "left")
        .groupBy(col("method"))
        .agg(count(lit(1)).as("n_ranked"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .crossJoin(broadcast(nq))
        .withColumn("recall_permille",
          expr("(n_hits * 1000) div (5 * n_queries)"))
        .drop("n_queries")
        .orderBy(col("method"))
    }),

    // ---------------------------------------------------------------
    // RANGE-TIER RECALL — "measure, don't guess" for the radius ladder:
    // each committed range fixture (IVF probe tier, compressed ADC
    // shortlist tier) joined against the exact range recomputed LIVE.
    // The tiers' contract says they never admit false pairs, so n_true
    // must equal n_found — the report MEASURES that claim per tier (the
    // oracle recomputes the hits independently in DuckDB, so a tier
    // that started admitting false pairs fails this gate, not just its
    // own fixture diff). Denominator is the exact pair count, the range
    // analogue of recall@k's 5·|Q|.
    "ann_range_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val exact = Similarity.cosineRange(queries, emb, minCos = 0.3)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      Seq("ann_range_search", "ann_range_rerank")
        .map(name => s.read.parquet(s"$fixturesDir/$name.parquet")
          .select(lit(name).as("method"), col("q_id"), col("c_id")))
        .reduce(_.unionByName(_))
        .join(exact, Seq("q_id", "c_id"), "left")
        .groupBy(col("method"))
        .agg(count(lit(1)).as("n_found"),
          sum(coalesce(col("hit"), lit(0L))).as("n_true"))
        .crossJoin(broadcast(nExact))
        .withColumn("recall_permille", expr("(n_true * 1000) div n_exact"))
        .orderBy(col("method"))
    }),

    // ---------------------------------------------------------------
    // §2.J custom keyed state — flatMapGroupsWithState running anomalies
    // (per-user running mean, flag when value > 3x it), batch form of the
    // identical streaming operator (StreamingSpec proves batch ≡ stream).
    // Oracle: cumulative window AVG over the prior rows per user. The gate
    // compares the per-event ANOMALY FLAG, not the float mean: DuckDB's
    // windowed AVG accumulates ~1 ulp differently from the operator's
    // sequential sum/n, so no decimal rendering of the mean is stable —
    // while the flag compares v against 3x the mean, where a 1-ulp
    // difference only matters on an exact tie (and the exact running
    // means are pinned by SkewStreamStateSpec on closed-form fixtures).
    "s1_running_anomalies" -> ((s, dir) => {
      EventStreams.runningAnomalies(s, Tables.events(s, dir), factor = 3.0)
        .select(col("user_id"), col("event_id"), col("value"), col("anomalous"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---------------------------------------------------------------
    // Streaming-shape (batch form): tumbling 1-hour window aggregate over
    // events — the §2.J "roadmap realized" demo's batch-equivalent query.
    "w1_tumbling_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("w_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
            .as("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // ---------------------------------------------------------------
    // M3 REAL-DECODE path (`dataflow_pipeline.py:72-110`): DICOM fixture
    // files on disk → distributed binaryFile scan → graft.sources.Dicom
    // explicit-VR-LE parser → identical DoFn body. Same metadata oracle as
    // the stub path (minus the path-dependent raw URI) — the hard gate runs
    // Dicom.decode end-to-end.
    "m3_pipeline_dicom_files" -> ((s, dir) => {
      val fixtureDir = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_dicom_fixtures_200")
      SlicePipeline.writeDicomFixtures(s, 200, fixtureDir.getAbsolutePath)
      SlicePipeline.runFromDicomFiles(s, fixtureDir.getAbsolutePath).toDF().select(
        col("file_name"), col("gcs_uri_processed"), col("patient_id_hash"),
        col("study_uid"), col("series_uid"), col("sop_instance_uid"),
        col("modality"), col("rows"), col("cols"),
        col("window_center"), col("window_width"))
        .orderBy(col("file_name"))
    }),

    // M3 windowing-only stats (D1+E1/E2 half of the pipeline): stub decode →
    // kernel applyWindowing → per-image mean/std of the u8 pixels. The
    // windowing math is closed-form, so this half gets a hard SQL gate;
    // CLAHE/blur stats remain kernel-golden-tested (m3_pipeline_stats).
    "m3_pipeline_windowed_stats" -> ((s, dir) => {
      SlicePipeline.windowedPixels(s, 200)
        .groupBy(col("file_name"))
        .agg(count(lit(1)).as("n_px"),
          round(avg(col("u8")), 6).as("mean_windowed"),
          round(sqrt(avg(col("u8") * col("u8")) - avg(col("u8")) * avg(col("u8"))), 6)
            .as("std_windowed"))
        .orderBy(col("file_name"))
    }),

    // ---------------------------------------------------------------
    // D14 — morphological open(3x3) + close(5x5) (`region_growing.py:95-96`)
    // via the dense kernel, gated against a relational oracle: erosion =
    // neighborhood MIN join, dilation = neighborhood MAX join (in-bounds
    // neighbors only, matching the kernel's border rule). The diagonal-band
    // mask keeps the output non-trivial (interiors survive, edges move).
    "d14_morphology" -> ((s, dir) => {
      val dense = s.range(1).select(lit(0L).as("image_id"),
        lit(64).as("h"), lit(64).as("w"),
        expr("""transform(sequence(0, 4095),
          i -> CAST(CASE WHEN ((i div 64) * 4 + (i % 64) * 2) % 256 >= 128
                    THEN 1 ELSE 0 END AS INT))""").as("mask"))
      dense.withColumn("oc", ImageOps.openCloseMask(col("mask"), col("h"), col("w")))
        .select(col("image_id"), posexplode(col("oc")).as(Seq("pos", "m")))
        .filter(col("m") === 1)
        .select(col("image_id"), expr("pos div 64").as("y"),
          (col("pos") % 64).cast("long").as("x"))
        .orderBy(col("y"), col("x"))
    }),

    // ---------------------------------------------------------------
    // F2 — mask union (`np.logical_or`, evaluation.py:117) on lineitem-derived
    // masks, same fixture family as F1/F3.
    "f2_union" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val pred = li.filter(col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      val gt = li.filter(col("l_tax") > 0.03)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      MaskAlgebra.union(pred, gt, Seq("l_orderkey", "l_linenumber", "l_returnflag"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_union"))
        .orderBy(col("l_returnflag"))
    }),

    // ---------------------------------------------------------------
    // §2.I exact half — countDistinct per group (SQL-expressible, unlike the
    // HLL estimate which is fixture-gated in i1_distinct_counts).
    "i1_distinct_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(countDistinct(col("lang")).as("n_langs_exact"),
          countDistinct(col("doc_id")).as("n_docs_exact"))
        .orderBy(col("source"))
    }),

    // ---------------------------------------------------------------
    // D8 — real PNG codec round-trip on executors: encode each synthetic
    // image, decode it back, aggregate the ROUND-TRIPPED pixels. The oracle
    // computes the same aggregates straight from the generating formula, so
    // a green row proves encode∘decode = id (position-weighted checksum
    // catches permutations).
    "d8_png_roundtrip" -> ((s, dir) => {
      val dense = s.range(8).select(col("id").as("image_id"),
        lit(32).as("h"), lit(32).as("w"),
        expr("""transform(sequence(0, 1023),
          i -> CAST((CAST(i AS BIGINT) * 2654435761 + id * 977) % 256 AS INT))""").as("img"))
      dense.withColumn("rt", ImageOps.pngRoundTrip(col("img"), col("h"), col("w")))
        .select(col("image_id"), posexplode(col("rt")).as(Seq("pos", "v")))
        .groupBy(col("image_id"))
        .agg(count(lit(1)).as("n_px"), sum(col("v")).as("sum_v"),
          sum(col("pos") * col("v")).as("weighted_sum"))
        .orderBy(col("image_id"))
    }),

    // ---------------------------------------------------------------
    // E13 fallback normalization over the REAL Sobel edge kernel (reflect-101
    // borders) on a deterministic threshold mask: edge map → max-normalize →
    // Σ/(n·255). Everything in the no-GT BF-score path except the Butterworth
    // transfer (golden-tested in KernelsSpec; fixture-gated below).
    "e13_bf_edges" -> ((s, dir) => {
      val dense = s.range(1).select(lit(0L).as("image_id"),
        lit(32).as("h"), lit(32).as("w"),
        expr("""transform(sequence(0, 1023),
          i -> CAST(CASE WHEN ((i div 32) * 4 + (i % 32) * 2) % 256 >= 128
                    THEN 1 ELSE 0 END AS INT))""").as("mask"))
      dense.withColumn("edges", ImageOps.sobelU8(col("mask"), col("h"), col("w")))
        .select(col("image_id"),
          round(expr("aggregate(edges, 0L, (a, v) -> a + v)") / (1024.0 * 255.0), 6)
            .as("bf_fallback"))
    }),

    // ---------------------------------------------------------------
    // D11 — Butterworth frequency-domain filter (advanced_metrics.py:24-47):
    // fixture-gated (DFT outputs have no closed SQL form; kernel is
    // golden-tested in KernelsSpec, end-to-end gated vs committed fixture).
    "d11_butterworth" -> ((s, dir) => {
      ImageOps.syntheticDense(s, 8, 32, 32)
        .withColumn("filtered", ImageOps.butterworthU8(
          col("img"), col("h"), col("w"), lit(8.0), lit(2), lit(true)))
        .select(col("image_id"),
          expr("aggregate(filtered, 0L, (a, v) -> a + v)").as("sum_filtered"),
          expr("aggregate(filtered, 0, (a, v) -> greatest(a, v))").as("max_filtered"))
        .orderBy(col("image_id"))
    }),

    // ---------------------------------------------------------------
    // B1/B2/C3 — sink round-trip gate: real DICOM inputs (one corrupted)
    // → per-record windowed-u8 PNG writes (B1, `dataflow_pipeline.py:
    // 78-85`) + DOUBLE parquet append (B2, `:135-141`) into a fresh
    // per-invocation temp dir; read both sinks back. The corrupt input must
    // be absent from BOTH sinks (C3 silent drop, `:79-80`), every surviving
    // file must count n_meta_rows=2 (append, never overwrite), and the PNG
    // pixel aggregates must equal the closed-form windowing oracle —
    // proving write → encode → decode → read = id on executor-written files.
    "b1b2_sink_roundtrip" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      val base = scratchDir("graft_sink_")
      val dcmDir = base.resolve("dcm").toString
      val pngDir = base.resolve("png").toString
      val tablePath = base.resolve("slice_table").toString
      SlicePipeline.writeDicomFixtures(s, 50, dcmDir)
      Files.write(Paths.get(dcmDir, "img_000037.dcm"),
        "definitely not a dicom stream".getBytes("UTF-8")) // C3 input
      SlicePipeline.writeWindowedPngs(s, dcmDir, pngDir)        // B1
      SlicePipeline.appendFromDicomFiles(s, dcmDir, tablePath)  // B2 append 1
      SlicePipeline.appendFromDicomFiles(s, dcmDir, tablePath)  // B2 append 2
      import s.implicits._
      val pngAgg = s.read.format("binaryFile").load(pngDir)
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (path, bytes) =>
            graft.kernels.Png.decodeGray(bytes).map { case (px, _, _) =>
              val stem = path.split('/').last.replaceAll("\\.[^.]*$", "")
              var sum = 0L; var wsum = 0L; var i = 0
              while (i < px.length) { sum += px(i); wsum += i.toLong * px(i); i += 1 }
              (stem, px.length.toLong, sum, wsum)
            }
          }
        }.toDF("file_name", "n_px", "sum_v", "weighted_sum")
      val meta = s.read.parquet(tablePath)
        .select(regexp_replace(col("file_name"), "\\.[^.]*$", "").as("file_name"))
        .groupBy(col("file_name")).agg(count(lit(1)).as("n_meta_rows"))
      pngAgg.join(meta, Seq("file_name"))
        .orderBy(col("file_name"))
    }),

    // ---------------------------------------------------------------
    // A7 — single-blob fetch (`gcp_utils.py:29-36` download_image_np):
    // exactly one path loaded through the distributed source, decoded to an
    // array; aggregates vs the generator oracle.
    "a7_single_blob" -> ((s, dir) => {
      import java.nio.file.Files
      val blobDir = scratchDir("graft_blob_")
      val px = Array.tabulate(1024)(i => ((i / 32) * 3 + (i % 32) * 7) % 256)
      graft.kernels.Png.encodeGray(px, 32, 32).foreach(b =>
        Files.write(blobDir.resolve("blob_0.png"), b))
      import s.implicits._
      s.read.format("binaryFile").load(blobDir.resolve("blob_0.png").toString)
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .mapPartitions(it => it.flatMap { case (p, bytes) =>
          graft.kernels.Png.decodeGray(bytes).map { case (arr, h, w) =>
            (p.split('/').last, h.toLong, w.toLong, arr.length.toLong,
              arr.map(_.toLong).sum)
          }
        }).toDF("file_name", "h", "w", "n_px", "sum_v")
    }),

    // ---------------------------------------------------------------
    // A8 — schema load (`dataflow_pipeline.py:49-57,123-124`): BQ-style
    // schema JSON → Spark StructType, emitted field-per-row. The query
    // hard-asserts the parsed schema equals the engine's declared
    // sliceRecordSchema, and the oracle pins every field name / type /
    // nullability — the engine's one declared schema, driver-gated.
    "a8_schema_load" -> ((s, dir) => {
      val json =
        """{"fields":[
          |{"name":"file_name","type":"STRING","mode":"REQUIRED"},
          |{"name":"gcs_uri_raw","type":"STRING","mode":"REQUIRED"},
          |{"name":"gcs_uri_processed","type":"STRING","mode":"REQUIRED"},
          |{"name":"patient_id_hash","type":"STRING","mode":"NULLABLE"},
          |{"name":"study_uid","type":"STRING","mode":"NULLABLE"},
          |{"name":"series_uid","type":"STRING","mode":"NULLABLE"},
          |{"name":"sop_instance_uid","type":"STRING","mode":"NULLABLE"},
          |{"name":"modality","type":"STRING","mode":"NULLABLE"},
          |{"name":"rows","type":"INT64","mode":"NULLABLE"},
          |{"name":"cols","type":"INT64","mode":"NULLABLE"},
          |{"name":"mean_intensity","type":"FLOAT","mode":"NULLABLE"},
          |{"name":"std_intensity","type":"FLOAT","mode":"NULLABLE"},
          |{"name":"window_center","type":"FLOAT","mode":"NULLABLE"},
          |{"name":"window_width","type":"FLOAT","mode":"NULLABLE"},
          |{"name":"processed_at","type":"TIMESTAMP","mode":"REQUIRED"}]}""".stripMargin
      val st = graft.model.Schemas.bqJsonToStructType(json)
      require(st == graft.model.Schemas.sliceRecordSchema,
        "parsed BQ schema diverges from the declared slice-record schema")
      import s.implicits._
      st.fields.toSeq.zipWithIndex
        .map { case (f, i) => (i.toLong, f.name, f.dataType.simpleString, f.nullable) }
        .toDF("pos", "field_name", "spark_type", "nullable")
        .orderBy(col("pos"))
    }),

    // ---------------------------------------------------------------
    // A2/A3/A4 unified dispatch — `load_medical_image` parity
    // (`preprocessor.py:10-81`): ONE loader routes a mixed directory of
    // .dcm/.nii/.png (plus one corrupt and one unknown-extension file,
    // both dropped) through the real format decoders into a common
    // min-max-u8 record; per-file aggregates vs the closed-form generator
    // oracle prove all three decode paths end-to-end in one scan.
    "unified_loader" -> ((s, dir) => {
      import java.nio.file.Files
      val mixDir = scratchDir("graft_mixed_")
      SlicePipeline.writeDicomFixtures(s, 4, mixDir.toString)
      for (id <- 0 until 3) { // 5-slice 8x8 volumes; loader keeps slice z=2
        val vox = Array.tabulate(5 * 8 * 8) { i =>
          val z = i / 64; val y = (i % 64) / 8; val x = i % 8
          ((z * 7 + y * 4 + x * 2 + id * 29) % 256).toDouble
        }
        Files.write(mixDir.resolve(s"vol_$id.nii"),
          graft.sources.Nifti.encode(5, 8, 8, vox))
      }
      for (id <- 0 until 3) { // 16x16 grayscale PNGs
        val px = Array.tabulate(256)(i => ((i / 16) * 5 + (i % 16) * 3 + id * 11) % 256)
        graft.kernels.Png.encodeGray(px, 16, 16).foreach(b =>
          Files.write(mixDir.resolve(s"pic_$id.png"), b))
      }
      Files.write(mixDir.resolve("broken.dcm"), Array[Byte](9, 9, 9))
      Files.write(mixDir.resolve("notes.txt"), "not an image".getBytes("UTF-8"))
      import s.implicits._
      graft.sources.MedicalImages.load(s, mixDir.toString)
        .map(m => (m.file_name, m.format, m.h.toLong, m.w.toLong,
          m.pixels.length.toLong, m.pixels.map(_.toLong).sum))
        .toDF("file_name", "format", "h", "w", "n_px", "sum_v")
        .orderBy(col("file_name"))
    }),

    // ---------------------------------------------------------------
    // SESSIONIZATION (batch): gap-based sessions per user — lag → boundary
    // flag → prefix sum, ONE key shuffle for the whole history (operator
    // scaladoc: Relational.sessionize). 6-hour gap matches this fixture's
    // event density (median per-user gap ≈7 h). Session aggregates use
    // decimal sums so the two-phase distributed total is bit-equal to the
    // oracle's sequential one. Streaming twin: w2_session_windows.
    "s2_sessionize" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
      Relational.sessionize(ev, col("user_id"), col("ts"), gapSeconds = 21600L)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6).as("sum_value"))
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // ---------------------------------------------------------------
    // PIVOT (wide report): revenue by order priority × year, with the
    // pivot domain passed EXPLICITLY — with values supplied Spark plans a
    // single-pass pivot aggregate; omitting them adds a whole extra
    // distinct-scan job just to discover the columns, which at 100 TB is
    // the difference between one shuffle and two full reads.
    "j3_pivot" -> ((s, dir) => {
      Tables.orders(s, dir)
        .withColumn("o_year", concat(lit("y"), year(col("o_orderdate"))))
        .groupBy(col("o_orderpriority"))
        .pivot("o_year", (1995 to 2001).map("y" + _))
        .agg(round(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double"), 6))
        .orderBy(col("o_orderpriority"))
    }),

    // ---------------------------------------------------------------
    // POINT-IN-INTERVAL JOIN through the bucketed equi-join path
    // (Relational.pointInIntervalJoin): orders falling inside monthly
    // 10-day promo windows. The oracle is DuckDB's native range join over
    // the SAME windows — an independent implementation of the non-equi
    // semantics the bucketing must reproduce exactly (boundary days
    // included, no duplicate pairs from multi-bucket intervals).
    "f6_range_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val windows = o.select(date_trunc("month", col("o_orderdate")).as("w_start"))
        .distinct()
        .withColumn("w_end", col("w_start") + expr("INTERVAL 9 DAYS"))
      Relational.pointInIntervalJoin(
          o.select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
          "o_orderdate", windows, "w_start", "w_end",
          bucketWidthUs = 5L * 86400L * 1000000L)
        .groupBy(col("w_start"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double"), 6)
            .as("revenue"))
        .orderBy(col("w_start"))
    }),

    // ---------------------------------------------------------------
    // TF-IDF top-3 terms per document (TextAnalysis.tfidfTopTerms):
    // explode → tf → df rollup → keyed join, ranked through the custom
    // TopKPerKey plan node. Selection ranks on integers only (tf DESC,
    // df ASC, term ASC); the floating tfidf is a reported value — so the
    // chosen rows are engine-reproducible and the gate is exact.
    "tfidf_topterms" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), col("doc_id"), col("text"), k = 3)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // Unigram surprisal (perplexity-ish quality signal,
    // TextAnalysis.unigramSurprisal): corpus unigram model → per-doc mean
    // negative log-prob. Model frame joins on term (AQE broadcasts small
    // vocabularies); the oracle recomputes the same model sequentially.
    "unigram_surprisal" -> ((s, dir) => {
      TextAnalysis.unigramSurprisal(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // VOCABULARY COVERAGE (TextAnalysis.vocabCoverage): per-doc OOV rate
    // against the corpus top-2000 vocabulary — the tokenizer-coverage
    // audit. Vocab = count-desc/term-asc top-N (deterministic at the
    // cut), broadcast into the token stream; integer permille output.
    // Oracle re-derives the vocabulary and the left-join count in SQL.
    "vocab_oov" -> ((s, dir) => {
      TextAnalysis.vocabCoverage(Tables.documents(s, dir),
          col("doc_id"), col("text"), vocabSize = 2000)
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // NEAR-DUP CANONICAL SELECTION — the step after clustering: keep the
    // BEST-QUALITY member of every near-dup cluster (not the min-id, which
    // corpus_curation uses for exact dups). Clusters come from the
    // committed pair fixture (isolates this operator; the live pair set is
    // gated by minhash_lsh_pairs) via the O(log n) star CC; singletons are
    // their own cluster. The representative is picked through TopKPerKey
    // k=1 ranked on (rounded quality DESC, doc_id ASC) — the rounded
    // quality is engine-pinned by the text_analysis gate, so selection is
    // exact. The member frame feeds both the pick and the size rollup →
    // persisted, corpus scored once.
    "neardup_canonical" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir)
      val labels = Dedup.connectedComponentsStar(
        s.read.parquet(s"$fixturesDir/minhash_lsh_pairs.parquet"))
      val member = docs
        .select(col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .persistTracked()
      val rep = graft.plans.TopKPerKey.topKPerKey(member,
          keyCols = Seq("cluster_id"),
          orderBy = Seq(("quality", false), ("doc_id", true)), k = 1)
        .select(col("cluster_id"), col("doc_id").as("canonical_id"),
          col("quality").as("best_quality"))
      val sizes = member.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
      rep.join(sizes, "cluster_id").orderBy(col("cluster_id"))
    }),

    // ---------------------------------------------------------------
    // Deterministic STRATIFIED SAMPLE (per-language rates): hash-bucket
    // membership, so the sample is reproducible across engines/runs —
    // verified here by the oracle literally recomputing the same sample in
    // DuckDB. Map-side filter, no shuffle before the aggregate.
    "corpus_sample_stratified" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      TextAnalysis.stratifiedSample(Tables.documents(s, dir), col("lang"),
          col("doc_id"), fractions = Map("en" -> 0.5, "de" -> 0.25), default = 0.1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // ---------------------------------------------------------------
    // BOUNDED INVERTED INDEX: per-term document frequency + a k-bounded
    // posting SAMPLE (5 smallest doc_ids) for the 20 highest-df terms.
    // The sample rides TopKPerKey — at most k postings per (term,
    // partition) ever reach an exchange, where collect_list would pull a
    // stopword's full corpus-sized posting list into one aggregation
    // buffer. Postings emit as a comma-joined string (engine-comparable).
    "inverted_index" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val dt = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.terms(col("text"))).as("term"))
        .distinct()
        .persistTracked()
      val dfreq = dt.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
      val sample = graft.plans.TopKPerKey.topKPerKey(dt,
          keyCols = Seq("term"), orderBy = Seq(("doc_id", true)), k = 5)
        .groupBy(col("term"))
        .agg(array_join(sort_array(collect_list(col("doc_id"))), ",").as("sample_postings"))
      dfreq.join(sample, "term")
        .orderBy(col("df_docs").desc, col("term"))
        .limit(20)
    }),

    // ---------------------------------------------------------------
    // NTILE decile report WITHOUT the single-partition window an
    // unpartitioned `ntile() OVER (ORDER BY …)` plans: spend deciles ride
    // Relational.globalNtile — distributed range-sort global rank + SQL-
    // standard bucket sizing. The order (decimal spend DESC, user_id) is
    // total, so bucketing is engine-exact; the oracle is DuckDB's NATIVE
    // NTILE — an independent implementation that must agree bucket for
    // bucket.
    "j4_user_deciles" -> ((s, dir) => {
      val spend = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("spend"))
      Relational.globalNtile(spend,
          Seq(col("spend").desc, col("user_id")), n = 10, out = "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("spend")).cast("double"), 6).as("total_spend"),
          round(max(col("spend")).cast("double"), 6).as("top_spend"))
        .orderBy(col("decile"))
    }),

    // ---------------------------------------------------------------
    // Gopher-style repetition signals (TextAnalysis.repetitionSignals):
    // duplicate-token fraction + most-frequent unigram/bigram shares per
    // doc. Argmin-struct selection — no per-doc gram list materializes,
    // tie-breaks engine-exact.
    "quality_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionSignals(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // Benchmark decontamination (TextAnalysis.decontaminationHits): docs
    // sharing an 8-gram with the held-out slice (doc_id % 5 = 0 — a split
    // that provably straddles this corpus's near-dup structure, so the
    // gate has real positives). Oracle re-derives the same shingle overlap
    // from scratch in DuckDB list algebra.
    "decontaminate" -> ((s, dir) => {
      TextAnalysis.decontaminationHits(Tables.documents(s, dir), col("doc_id"),
          col("text"), isBench = col("doc_id") % 5 === 0, n = 8)
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // COHORT RETENTION — users per (first-activity week, weeks-since)
    // cell: the classic retention matrix. First-week assignment is one
    // user-keyed rollup; the join back to events co-partitions on the
    // same key, and the (cohort, offset, user) distinct runs BEFORE the
    // cell count (aggregate-before-distinct, no Expand). All-integer/
    // timestamp outputs — hash-exact by construction.
    "cohort_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      ev.join(first, "user_id")
        .select(col("cohort_wk"),
          (datediff(col("wk"), col("cohort_wk")) / lit(7)).cast("int")
            .as("week_offset"),
          col("user_id"))
        .distinct()
        .groupBy(col("cohort_wk"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    }),

    // ---------------------------------------------------------------
    // WINDOW-FUNCTION SUITE — the rank/navigation family in one keyed
    // pass: lag/lead, first/last/nth_value (explicit full frame), and the
    // count-ratio ranks percent_rank/cume_dist. One partition spec, so
    // every expression rides a single Window operator; ratios divide
    // exact integer counts — engine-identical. Navigation outputs are raw
    // column passthroughs (no arithmetic, no rounding needed).
    "j7_window_suite" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wFull = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.orders(s, dir)
        .filter(col("o_custkey") % 100 === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          lag(col("o_totalprice"), 1).over(w).as("prev_total"),
          lead(col("o_totalprice"), 1).over(w).as("next_total"),
          first(col("o_totalprice")).over(wFull).as("first_total"),
          last(col("o_totalprice")).over(wFull).as("last_total"),
          nth_value(col("o_totalprice"), 2).over(wFull).as("second_total"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    }),

    // ---------------------------------------------------------------
    // SET OPERATIONS through the SQL surface — audience segmentation:
    // INTERSECT (viewed AND purchased) and EXCEPT (viewed, never
    // purchased). Catalyst compiles both to semi/anti joins + distinct —
    // never a materialized set; the same SQL text runs on DuckDB.
    "sql_set_ops" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("graft_seg_events")
      s.sql("""
        SELECT 'viewed_and_purchased' AS segment, user_id FROM (
          SELECT user_id FROM graft_seg_events WHERE event_type = 'view'
          INTERSECT
          SELECT user_id FROM graft_seg_events WHERE event_type = 'purchase')
        UNION ALL
        SELECT 'viewed_never_purchased' AS segment, user_id FROM (
          SELECT user_id FROM graft_seg_events WHERE event_type = 'view'
          EXCEPT
          SELECT user_id FROM graft_seg_events WHERE event_type = 'purchase')
        ORDER BY segment, user_id""")
    }),

    // ---------------------------------------------------------------
    // BOUNDED-STATE EWMA (Relational.ewmaRecent): half-life smoothing of
    // each user's 64 most recent events through the TopKPerKey plan node
    // — k-bounded exchange and fold state, exact power-of-two halving
    // steps (bit-reproducible on any engine). The oracle replays the
    // identical fold with a window rank + ordered list_reduce.
    "s8_ewma" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      Relational.ewmaRecent(Tables.events(s, dir), col("user_id"), col("ts"),
          col("event_id"), col("value"), k = 64)
        .orderBy(col("user_id"))
    }),

    // ---------------------------------------------------------------
    // BLOOM-SKETCH DECONTAMINATION (TextAnalysis.bloomDecontaminationHits):
    // identical semantics to `decontaminate` on a different split (%7),
    // but the corpus side is pruned by a broadcast Bloom filter BEFORE the
    // confirm join — the sketch-accelerated anti-contamination pattern
    // that keeps the exchange proportional to true hits at 100 TB. The
    // confirm join makes the result sketch-independent, so the closed-form
    // overlap oracle gates it exactly.
    "bloom_decontaminate" -> ((s, dir) => {
      TextAnalysis.bloomDecontaminationHits(Tables.documents(s, dir), col("doc_id"),
          col("text"), isBench = col("doc_id") % 7 === 0, n = 8)
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // Bigram surprisal (TextAnalysis.bigramSurprisal): mean −ln P(w2|w1)
    // under the corpus conditional-bigram model — the model-free upgrade
    // of unigram_surprisal.
    "bigram_surprisal" -> ((s, dir) => {
      TextAnalysis.bigramSurprisal(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // Per-dimension embedding statistics (Similarity.dimStats): the
    // quantization/drift profiling pass. Exchange carries
    // O(dims · partitions) rows — the exploded stream never shuffles.
    "emb_dim_stats" -> ((s, dir) => {
      Similarity.dimStats(Tables.embeddings(s, dir), col("embedding"))
        .orderBy(col("dim"))
    }),

    // ---------------------------------------------------------------
    // CUBE over (returnflag, linestatus), beside j2's ROLLUP and j3's
    // pivot. AGGREGATE-BEFORE-EXPAND: the base (flag, status) rollup runs
    // first, and the cube's Expand multiplies the SIX base rows — not the
    // fact scan — by the four grouping sets (Catalyst does not do this
    // rewrite itself; cube directly on the scan expands every fact row,
    // measured 3.3 s → sub-second here and linear damage at 100 TB).
    // Decimal re-aggregation is associative, so the result is bit-equal.
    "j5_cube" -> ((s, dir) => {
      val base = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("__n"),
          sum(col("l_quantity").cast("decimal(18,6)")).as("__qty"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).as("__rev"))
      base.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"),
          sum(col("__n")).as("n_rows"),
          sum(col("__qty")).cast("double").as("sum_qty"),
          round(sum(col("__rev")).cast("double"), 6).as("revenue"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // ---------------------------------------------------------------
    // PER-SOURCE DOCUMENT CAP — the "max N docs per domain" curation rule,
    // keeping the top-quality members: TopKPerKey on a second payload
    // (source key, quality ordering) — ≤k docs per (source, partition)
    // reach the exchange, where a window rank would shuffle the corpus.
    // Ranked on (rounded quality DESC, doc_id ASC); the rounded quality is
    // engine-pinned by the text_analysis gate, so selection is exact.
    "source_cap_topk" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
      graft.plans.TopKPerKey.topKPerKey(docs,
          keyCols = Seq("source"),
          orderBy = Seq(("quality", false), ("doc_id", true)), k = 3)
        .select(col("source"), col("rank"), col("doc_id"), col("quality"))
        .orderBy(col("source"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // Event debounce (Relational.debounce): drop rows within 6h of the
    // same (user, type)'s previous event — lag-diff form, one key
    // exchange. Output is the full kept stream (stronger gate than a
    // count rollup).
    "s4_debounce" -> ((s, dir) => {
      Relational.debounce(
          Tables.events(s, dir).select(col("event_id"), col("user_id"),
            col("event_type"), col("ts"), col("value")),
          keys = Seq(col("user_id"), col("event_type")),
          ts = col("ts"), tie = col("event_id"), minGapSeconds = 21600L)
        .orderBy(col("event_id"))
    }),

    // ---------------------------------------------------------------
    // Int8 scalar-quantization error profile (Similarity.scalarQuantError):
    // per-dim reconstruction error against the corpus range; floor(u+0.5)
    // half-up rounding is engine-portable where round() is not.
    "emb_quantize" -> ((s, dir) => {
      Similarity.scalarQuantError(Tables.embeddings(s, dir), col("embedding"))
        .orderBy(col("dim"))
    }),

    // ---------------------------------------------------------------
    // GROUPING SETS through the spark.sql TEXT surface (parse → analyze →
    // Expand), beside j2 ROLLUP and j5 CUBE: per-flag and per-status
    // margins plus the grand total in one pass, never a UNION of scans.
    // Same aggregate-before-expand shape as j5: Expand multiplies the
    // six-row base aggregate, not the fact scan.
    "j6_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(grouping_id() AS INT) AS gid,
          SUM(n) AS n_rows,
          CAST(SUM(qty) AS DOUBLE) AS sum_qty,
          ROUND(CAST(SUM(rev) AS DOUBLE), 6) AS revenue
        FROM (
          SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
            SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qty,
            SUM(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
              AS DECIMAL(18,6))) AS rev
          FROM lineitem_gs GROUP BY l_returnflag, l_linestatus)
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }),

    // ---------------------------------------------------------------
    // Sequence packing (TextAnalysis.packSequences): greedy next-fit of
    // docs into 2048-token training sequences, 8 dataloader shards.
    // Genuinely order-carrying per shard → secondary-sort mapPartitions;
    // the oracle replays the same walk as a recursive CTE.
    "corpus_pack" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.packSequences(docs, col("doc_id"),
          size(TextAnalysis.terms(col("text"))).cast("long"),
          maxLen = 2048, shards = 8)
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // TOKEN-WINDOW CHUNKING (TextAnalysis.chunkTokens): every doc split
    // into 32-token windows at stride 16 — the context-window preparation
    // pass. Pure map-side explode (no shuffle before the presentation
    // sort); chunk_hash pins the full chunk text engine-exactly without
    // shipping it.
    "corpus_chunks" -> ((s, dir) => {
      TextAnalysis.chunkTokens(Tables.documents(s, dir), col("doc_id"),
          col("text"), chunkLen = 32, stride = 16)
        .drop("chunk_text")
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---------------------------------------------------------------
    // CHUNK-GRANULARITY DUPLICATION REPORT — per source, the fraction of
    // token windows whose exact window recurs anywhere in the corpus
    // (CCNet-style repeated-window measurement at training-window
    // granularity; exact-dup docs and within-doc repetition both
    // surface). Chunks derive once (persisted), the recurrence count is
    // one hash-keyed map-side-combined rollup, and the per-source rollup
    // joins chunk rows — never the corpus — on co-keyed doc_id.
    // dup_frac_e6 is integer-scaled round-half-up: no float reaches the
    // gate.
    "chunk_dup_stats" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir)
      val chunks = TextAnalysis.chunkTokens(docs, col("doc_id"), col("text"),
          chunkLen = 32, stride = 16)
        .select(col("doc_id"), col("chunk_hash"))
        .persistTracked()
      val counts = chunks.groupBy(col("chunk_hash")).agg(count(lit(1)).as("__cn"))
      chunks.join(counts, "chunk_hash")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("__cn") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
        .select(col("source"), col("n_chunks"), col("n_dup_chunks"),
          expr("(2 * n_dup_chunks * 1000000 + n_chunks) div (2 * n_chunks)")
            .as("dup_frac_e6"))
        .orderBy(col("source"))
    }),

    // ---------------------------------------------------------------
    // Unigram distribution drift between corpus halves
    // (TextAnalysis.unigramDrift): add-one-smoothed per-term KL
    // contributions over the union vocabulary — the snapshot-monitoring
    // report. One scan, one term-keyed shuffle, broadcast totals.
    "corpus_drift" -> ((s, dir) => {
      TextAnalysis.unigramDrift(Tables.documents(s, dir), col("text"),
          inA = col("doc_id") % 2 === 0)
        .orderBy(col("term"))
    }),

    // ---------------------------------------------------------------
    // Daily resample + gap-fill + forward-fill (Relational.gapFillDaily):
    // dense per-user day grid, zero-filled counts, last observed daily
    // sum carried across gaps. One scan; grid bounded per key.
    "s5_gapfill" -> ((s, dir) => {
      Relational.gapFillDaily(Tables.events(s, dir), col("user_id"), col("ts"),
          col("value"))
        .select(col("key").as("user_id"), col("bucket"), col("n_events"),
          col("filled_sum"))
        .orderBy(col("user_id"), col("bucket"))
    }),

    // ---------------------------------------------------------------
    // PageRank over the committed near-dup pair graph (Dedup.pageRank):
    // importance weighting beside the CC membership queries. 5 power
    // iterations; the oracle replays them as 5 chained CTEs.
    "pagerank_neardup" -> ((s, dir) => {
      Dedup.pageRank(s.read.parquet(s"$fixturesDir/minhash_lsh_pairs.parquet"),
          iterations = 5)
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q3 shape (shipping priority): segment-filtered customer ⋈
    // date-filtered orders ⋈ shipdate-filtered lineitem → top-10 revenue
    // orders. All three predicates push to the parquet scans
    // (PlanAuditSpec), the dimension side broadcasts, sort+limit fuses to
    // TakeOrderedAndProject. DECIMAL(18,6) revenue so top-10 ties are
    // engine-exact.
    // ---------------------------------------------------------------
    // TPC-H Q5 shape — LOCAL SUPPLIER VOLUME: the 6-table star join
    // (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region) with a
    // region filter and a date-range cut. Plan discipline: region/nation
    // are CONSTANT-size (5/25 rows at every SF) — broadcast-hinted;
    // supplier/customer GROW with SF, so their joins are left to the
    // planner (AQE broadcasts them at small SF, shuffles at 100 TB — a
    // hint would pin a 100-TB broadcast). Filters push to the orders
    // scan; revenue aggregates in exact DECIMAL (order-proof).
    "q5_local_supplier" -> ((s, dir) => {
      val region = Tables.region(s, dir).filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))
      val nation = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
          col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("__rev"))
        .select(col("n_name"), round(col("__rev").cast("double"), 6).as("revenue"),
          col("__rev"))
        .orderBy(col("__rev").desc, col("n_name"))
        .drop("__rev")
    }),

    "q3_shipping_priority" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("__rev"))
        .select(col("l_orderkey"),
          round(col("__rev").cast("double"), 6).as("revenue"),
          col("o_orderdate"), col("o_orderpriority"), col("__rev"))
        .orderBy(col("__rev").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
        .drop("__rev")
    }),

    // ---------------------------------------------------------------
    // Sliding windows (EventStreams.slidingCounts): 1-hour windows every
    // 30 minutes — the third window kind beside w1 tumbling and w2
    // session. The oracle expands each event's two covering windows
    // explicitly.
    "w5_sliding_window" -> ((s, dir) => {
      EventStreams.slidingCounts(Tables.events(s, dir))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // ---------------------------------------------------------------
    // DATA-QUALITY CHECK REPORT (Deequ-style constraint suite): one scan
    // of the fact table computes completeness (nulls), key uniqueness
    // (count − distinct), and domain-bound violations as a one-row
    // report — the validation pass a pipeline runs before publishing a
    // snapshot. All map-side column math + one aggregate; the distinct
    // key count is the only extra exchange.
    "dq_checks" -> ((s, dir) => {
      Tables.lineitem(s, dir).agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber")))
          .as("dup_pk_rows"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_orderkey"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L))
          .as("qty_out_of_range"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L))
          .as("discount_out_of_range"),
        sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("nonpositive_price"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("null_shipdate"))
    }),

    // ---------------------------------------------------------------
    // DIVERSIFIED TOP-K — global top-10 quality docs with AT MOST 2 PER
    // SOURCE (the diversity constraint curation applies so one domain
    // can't fill the selection): per-source cap through TopKPerKey, then
    // a global TakeOrdered over the ≤ 2·|sources| survivors. Both stages
    // k-bounded; ordering on (rounded quality DESC, doc_id) is
    // engine-exact.
    "h6_diversified_topk" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
      graft.plans.TopKPerKey.topKPerKey(docs,
          keyCols = Seq("source"),
          orderBy = Seq(("quality", false), ("doc_id", true)), k = 2)
        .select(col("doc_id"), col("source"), col("quality"))
        .orderBy(col("quality").desc, col("doc_id"))
        .limit(10)
    }),

    // ---------------------------------------------------------------
    // 7-day MOVING AVERAGE over the gap-filled daily series — the bounded
    // window FRAME (ROWS 6 PRECEDING) beside the unbounded frames of
    // s1/s5. The frame walks each key's sorted partition once; same
    // single key exchange as the gap-fill it rides on.
    "s6_moving_avg" -> ((s, dir) => {
      val daily = Relational.gapFillDaily(Tables.events(s, dir), col("user_id"),
        col("ts"), col("value"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("bucket")).rowsBetween(-6, 0)
      daily.select(col("key").as("user_id"), col("bucket"), col("n_events"),
          round(avg(col("filled_sum")).over(w), 6).as("ma7"))
        .orderBy(col("user_id"), col("bucket"))
    }),

    // ---------------------------------------------------------------
    // COVARIANCE / CORRELATION MATRIX of the first 8 embedding dims —
    // drift + redundancy analysis (near-±1 correlations flag dimensions
    // quantization can fold together). Pair join keyed on vec_id expands
    // d² per vector — the right shape for small d; a full-width matrix
    // at scale would switch to one-pass Gram aggregation instead.
    "emb_covariance" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("__d0", "x")))
        .filter(col("__d0") < 8)
        .select(col("vec_id"), (col("__d0") + 1).as("i"), col("x"))
      val e2 = e.select(col("vec_id"), col("i").as("j"), col("x").as("y"))
      e.join(e2, "vec_id").filter(col("i") <= col("j"))
        .groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("n_vecs"),
          round(covar_pop(col("x"), col("y")), 9).as("cov"),
          round(corr(col("x"), col("y")), 6).as("corr"))
        .orderBy(col("i"), col("j"))
    }),

    // ---------------------------------------------------------------
    // FULL-WIDTH (d=64) covariance/correlation matrix through the
    // single-pass GramAggregator — the scale path emb_covariance's d=8
    // pair-join documents: one (n, Σx, Σxᵢxⱼ) buffer per partition
    // crosses the exchange instead of d² rows per vector. The oracle
    // re-derives every cell from the raw pair join in DuckDB with the
    // SAME operation order (Σxy/n − (Σx/n)(Σy/n)), so the one-pass
    // buffers must merge to exactly the textbook sums.
    "emb_covariance_gram" -> ((s, dir) => {
      Similarity.covarianceMatrixGram(Tables.embeddings(s, dir), col("embedding"))
        .orderBy(col("i"), col("j"))
    }),

    // ---------------------------------------------------------------
    // Stream–static join (EventStreams.typeCountsByNation): lookup-table
    // enrichment — the static nation side broadcasts per micro-batch,
    // NO join state (contrast w4's stream-stream state). Batch form
    // gated here; StreamingSpec pins stream ≡ batch.
    "w6_stream_static" -> ((s, dir) => {
      EventStreams.typeCountsByNation(Tables.events(s, dir), Tables.nation(s, dir))
        .orderBy(col("n_name"))
    }),

    // ---------------------------------------------------------------
    // W7 — B1 sink UNDER STREAMING: real DICOM fixture files (one
    // corrupted) → binaryFile readStream → foreachBatch per-record PNG
    // writes (idempotent atomic-replace, AvailableNow drains then stops) →
    // read the written files back and check per-file pixel aggregates
    // against the same closed-form windowing oracle as b1b2. The corrupt
    // input must be absent (C3 silent drop holds under streaming too).
    "w7_stream_png_sink" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      val base = scratchDir("graft_stream_sink_")
      val dcmDir = base.resolve("dcm").toString
      val pngDir = base.resolve("png").toString
      val ckpt = base.resolve("ckpt").toString
      SlicePipeline.writeDicomFixtures(s, 30, dcmDir)
      Files.write(Paths.get(dcmDir, "img_000017.dcm"),
        "not a dicom stream either".getBytes("UTF-8")) // C3 input
      SlicePipeline.startStreamingPngSink(s, dcmDir, pngDir, ckpt)
        .awaitTermination()
      import s.implicits._
      s.read.format("binaryFile").load(pngDir)
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (path, bytes) =>
            graft.kernels.Png.decodeGray(bytes).map { case (px, _, _) =>
              val stem = path.split('/').last.replaceAll("\\.[^.]*$", "")
              var sum = 0L; var wsum = 0L; var i = 0
              while (i < px.length) { sum += px(i); wsum += i.toLong * px(i); i += 1 }
              (stem, px.length.toLong, sum, wsum)
            }
          }
        }.toDF("file_name", "n_px", "sum_v", "weighted_sum")
        .orderBy(col("file_name"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q6 shape — the "forecast revenue change" single-scan
    // aggregate: every predicate (date band, discount band, quantity
    // cap) pushes into the parquet reader, the sum partial-aggregates
    // map-side in DECIMAL (exact, associative), and exactly one row
    // crosses the final exchange. The simplest query there is — and the
    // one whose plan must be NOTHING but scan→filter→partial→final.
    "q6_revenue_delta" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(
          sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,6)"))
            .as("__rev"),
          count(lit(1)).as("n_lines"))
        .select(round(col("__rev").cast("double"), 6).as("revenue"), col("n_lines"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q4 shape — EXISTS as a LEFT SEMI join: orders in a quarter
    // having at least one lineitem shipped after the order date, counted
    // per priority. The semi join never materializes matching lineitem
    // rows (first match wins per order) — the shape SQL EXISTS compiles
    // to, and the join type the inventory was missing beside f3's anti.
    "q4_priority_semijoin" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li,
          ord("o_orderkey") === li("l_orderkey") &&
            li("l_shipdate") > ord("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---------------------------------------------------------------
    // ORDERED FUNNEL — view → click → purchase conversion counts
    // (Relational.funnelCounts): per-stage survivor frames via chained
    // conditional MINs, all keyed on user_id — co-partitioned joins
    // after the first exchange, no per-user event lists, no windows.
    "funnel_conversion" -> ((s, dir) => {
      Relational.funnelCounts(Tables.events(s, dir),
        col("user_id"), col("event_type"), col("ts"),
        Seq("view", "click", "purchase"))
    }),

    // ---------------------------------------------------------------
    // ZIPF FIT (TextAnalysis.zipfFit): vocabulary-count power-law slope
    // over the top-1000 tokens — corpus-level quality gate. Integer
    // micro-nat quantization makes the regression sums exact; the OLS
    // arithmetic is IEEE-identical on both engines.
    "zipf_fit" -> ((s, dir) => {
      TextAnalysis.zipfFit(Tables.documents(s, dir), col("text"), topN = 1000)
    }),

    // ---------------------------------------------------------------
    // MIXTURE WEIGHTS (TextAnalysis.mixtureWeights): per-source
    // temperature-scaled sampling weights (α = ½, exactly-rounded sqrt)
    // — the data-mixing step before training. Normalization constant is
    // an exact integer sum over the bounded per-source frame.
    "mixture_weights" -> ((s, dir) => {
      TextAnalysis.mixtureWeights(Tables.documents(s, dir),
        col("source"), col("text"))
    }),

    // ---------------------------------------------------------------
    // HASHED LINEAR CLASSIFIER (TextAnalysis.hashedLinearScore): model
    // inference at scan speed — hashing-trick features, integer weight
    // fold in array order, zero exchanges before the gate's ORDER BY.
    "quality_classifier" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      TextAnalysis.hashedLinearScore(
          Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q18 shape — "large-volume orders": aggregate → HAVING →
    // join BACK to the fact's parents. The total-quantity rollup runs
    // FIRST (one keyed exchange, map-side combined) and the >300 filter
    // shrinks it to a sliver, so the joins to orders/customer see only
    // qualifying keys; ordering fuses to TakeOrderedAndProject.
    // l_quantity is integral (1..50), so the double sum is exact integer
    // arithmetic — associative, safe to emit as BIGINT.
    "q18_large_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
        .filter(col("total_qty") > 300)
      big
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
          round(col("o_totalprice"), 6).as("o_totalprice"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
    }),

    // ---------------------------------------------------------------
    // TPC-H Q14 shape — promo revenue share: one month of lineitem joined
    // to part, conditional DECIMAL sums, one ratio out. The date band
    // pushes to the scan; part carries only (p_partkey, p_type) through
    // the join.
    "q14_promo_share" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      li.join(Tables.part(s, dir).select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO",
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("decimal(18,6)")).otherwise(lit(0).cast("decimal(18,6)")))
            .as("__promo"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).as("__total"),
          count(lit(1)).as("n_lines"))
        .select(
          round(lit(100.0) * col("__promo").cast("double")
            / col("__total").cast("double"), 6).as("promo_share_pct"),
          round(col("__promo").cast("double"), 6).as("promo_revenue"),
          round(col("__total").cast("double"), 6).as("total_revenue"),
          col("n_lines"))
    }),

    // ---------------------------------------------------------------
    // LANGUAGE-VOTE ENTROPY (TextAnalysis.langEntropy): code-switching /
    // mixed-language signal — map-side, fixed-order IEEE entropy terms.
    "lang_entropy" -> ((s, dir) => {
      TextAnalysis.langEntropy(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // SEMANTIC vs LEXICAL NEAR-DUP AGREEMENT — the SemDedup-style
    // cross-check a curation pipeline runs before trusting either
    // detector alone: canonicalized pair sets from the embedding-LSH and
    // MinHash-LSH paths, full-outer-joined, counted by agreement class.
    // Both inputs are the committed fixtures their own gates pin, so
    // this gate isolates the set algebra.
    "semdedup_agreement" -> ((s, dir) => {
      val lex = s.read.parquet(s"$fixturesDir/minhash_lsh_pairs.parquet")
        .select(least(col("id1"), col("id2")).as("a"),
          greatest(col("id1"), col("id2")).as("b"))
        .distinct().withColumn("__lex", lit(1L))
      val sem = s.read.parquet(s"$fixturesDir/embedding_neardups.parquet")
        .select(least(col("id1"), col("id2")).as("a"),
          greatest(col("id1"), col("id2")).as("b"))
        .distinct().withColumn("__sem", lit(1L))
      lex.join(sem, Seq("a", "b"), "full_outer")
        .agg(
          sum(coalesce(col("__lex"), lit(0L))).as("n_lexical"),
          sum(coalesce(col("__sem"), lit(0L))).as("n_semantic"),
          sum(when(col("__lex").isNotNull && col("__sem").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("__lex").isNotNull && col("__sem").isNull, 1L)
            .otherwise(0L)).as("n_lexical_only"),
          sum(when(col("__lex").isNull && col("__sem").isNotNull, 1L)
            .otherwise(0L)).as("n_semantic_only"))
    }),

    // ---------------------------------------------------------------
    // TIME-RANGE WINDOW FRAME — trailing-7-day sum/count per user by
    // EVENT TIME (RANGE BETWEEN INTERVAL ... PRECEDING), the frame kind
    // s6's ROWS frame can't express (irregular event spacing ⇒ a row
    // count is not a time horizon). One user-keyed window pass; DECIMAL
    // sums keep the gate exact.
    "s7_range_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("value").cast("decimal(18,6)").as("v"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-7L * 24 * 3600 * 1000000, 0L)
      ev.select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_7d"),
          round(sum(col("v")).over(w).cast("double"), 6).as("sum_7d"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---------------------------------------------------------------
    // CORRELATED SCALAR SUBQUERY through the SQL-text surface — orders
    // above their own customer's average price. Exercises Catalyst's
    // decorrelation: the subquery rewrites to a per-customer aggregate
    // + join, never a per-row re-execution. DuckDB runs the LITERAL
    // same SQL.
    "sql_correlated_subquery" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders_sq")
      s.sql("""
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 6) AS o_totalprice
        FROM graft_orders_sq o
        WHERE o_totalprice > 2.5 * (
          SELECT AVG(o2.o_totalprice) FROM graft_orders_sq o2
          WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    }),

    // ---------------------------------------------------------------
    // TPC-H Q12 shape — two-way conditional counts after a fact join:
    // high/low-priority lineitem counts per return flag for one ship
    // year. Date band pushes to the scan; the priority split is
    // map-side CASE algebra inside one aggregation.
    "q12_priority_counts" -> ((s, dir) => {
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_returnflag"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_priority_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_priority_count"))
        .orderBy(col("l_returnflag"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q19 shape — DISJUNCTIVE predicate pushdown: revenue over an
    // OR of (brand, quantity-band) clauses. The whole disjunction is
    // scan-eligible: Catalyst pushes the common l_quantity bounds and
    // evaluates the OR in the scan stage, never as a post-join filter.
    "q19_disjunctive" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
      val pt = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      li.join(pt, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("l_quantity") >= 1 &&
            col("l_quantity") <= 11) ||
          (col("p_brand") === "Brand#2" && col("l_quantity") >= 10 &&
            col("l_quantity") <= 20) ||
          (col("p_brand") === "Brand#3" && col("l_quantity") >= 20 &&
            col("l_quantity") <= 30))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).as("__rev"),
          count(lit(1)).as("n_lines"))
        .select(round(col("__rev").cast("double"), 6).as("revenue"), col("n_lines"))
    }),

    // ---------------------------------------------------------------
    // CORPUS SNAPSHOT DIFF — the data-versioning audit between two
    // corpus snapshots: added / removed / CONTENT-changed / unchanged
    // document counts, where "changed" compares normalized-content
    // fingerprints (an id present in both snapshots with different text
    // is an edit, not an add+remove). Both snapshots derive
    // deterministically from the base table (old drops doc_id%7==0, new
    // drops %11==0 and edits %5==0), so the oracle replays the exact
    // construction. One doc_id-keyed full-outer join; fingerprints
    // compute map-side on each branch.
    "corpus_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp_old"))
      val neu = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), TextAnalysis.fingerprint(
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [edited]")))
            .otherwise(col("text"))).as("fp_new"))
      old.join(neu, Seq("doc_id"), "full_outer")
        .agg(
          sum(when(col("fp_old").isNull, 1L).otherwise(0L)).as("n_added"),
          sum(when(col("fp_new").isNull, 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("fp_old").isNotNull && col("fp_new").isNotNull &&
            col("fp_old") =!= col("fp_new"), 1L).otherwise(0L)).as("n_changed"),
          sum(when(col("fp_old") === col("fp_new"), 1L).otherwise(0L))
            .as("n_unchanged"))
    }),

    // ---------------------------------------------------------------
    // RECURSIVE CTE through the SQL-text surface (WITH RECURSIVE landed
    // in Spark 4): BFS distance from the smallest doc id over the
    // near-dup pair graph — depth-bounded walk, MIN(depth) rollup. The
    // same shape the DuckDB oracles have used against this engine all
    // along, now executed BY the engine. Both engines run the same
    // recursive text over the committed fixture.
    "sql_recursive_cte" -> ((s, dir) => {
      s.read.parquet(s"$fixturesDir/minhash_lsh_pairs.parquet")
        .createOrReplaceTempView("graft_rec_pairs")
      s.sql("""
        WITH RECURSIVE walk(id, depth) AS (
          SELECT MIN(id1), 0 FROM graft_rec_pairs
          UNION ALL
          SELECT s.dst, w.depth + 1
          FROM walk w
          JOIN (SELECT id1 AS src, id2 AS dst FROM graft_rec_pairs
                UNION SELECT id2, id1 FROM graft_rec_pairs) s
            ON s.src = w.id
          WHERE w.depth < 4)
        SELECT id, MIN(depth) AS dist
        FROM walk GROUP BY id ORDER BY id""")
    }),

    // ---------------------------------------------------------------
    // SEMI-STRUCTURED JSON with a QUARANTINE path — parse the events
    // `props` JSON column (every 13th event deterministically corrupted
    // by truncation), count quarantined rows, aggregate the extracted
    // field. Malformed records must degrade to NULL and be COUNTED, not
    // crash the pipeline or silently vanish — the PERMISSIVE-mode
    // contract. All map-side extraction + one keyed aggregate.
    "json_props" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("__p",
          when(col("event_id") % 13 === 0, substring(col("props"), 2, 1000))
            .otherwise(col("props")))
        .withColumn("__k", get_json_object(col("__p"), "$.k").cast("long"))
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("__k").isNull, 1L).otherwise(0L)).as("n_quarantined"),
          sum(coalesce(col("__k"), lit(0L))).as("sum_k"))
        .orderBy(col("user_id"))
    }),

    // ---------------------------------------------------------------
    // LATERAL correlated subquery — per-order top-2 lineitems by price
    // through the SQL-text surface (`JOIN LATERAL ... ORDER BY LIMIT`).
    // Catalyst decorrelates the limit-per-group into a join + windowed
    // rank rather than re-running the subquery per outer row; DuckDB
    // executes its own LATERAL implementation of the same text.
    "sql_lateral_join" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("graft_lat_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lat_lineitem")
      s.sql("""
        SELECT o.o_orderkey, t.l_linenumber, ROUND(t.l_extendedprice, 6) AS l_extendedprice
        FROM graft_lat_orders o
        JOIN LATERAL (
          SELECT l_linenumber, l_extendedprice FROM graft_lat_lineitem l
          WHERE l.l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
        WHERE o.o_orderkey % 100 = 0
        ORDER BY o.o_orderkey, l_extendedprice DESC, l_linenumber""")
    }),

    // ---------------------------------------------------------------
    // SMALL-FILE COMPACTION — the table-maintenance pass every long-
    // lived 100 TB dataset needs: a 64-file fragmented write compacts to
    // 4 files via repartition, and the gate proves content is EXACTLY
    // preserved (row count + two independent checksums) while the file
    // count actually drops. Deterministic synthetic frame; the oracle
    // recomputes the checksums from the generating formula.
    "small_file_compaction" -> ((s, dir) => {
      val base = scratchDir("graft_compact_")
      val src = s.range(10000).select(col("id"),
        (col("id") * 2654435761L % 1000003L).as("v"))
      src.repartition(64).write.mode("overwrite").parquet(s"$base/small")
      val small = s.read.parquet(s"$base/small")
      small.repartition(4).write.mode("overwrite").parquet(s"$base/compact")
      val compact = s.read.parquet(s"$base/compact")
      def nFiles(p: String): Long =
        new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet")).toLong
      compact.agg(
          count(lit(1)).as("n_rows"),
          sum(col("v")).as("sum_v"),
          sum(col("id") * col("v")).as("weighted_v"))
        .select(lit(nFiles(s"$base/small")).as("n_files_before"),
          lit(nFiles(s"$base/compact")).as("n_files_after"),
          col("n_rows"), col("sum_v"), col("weighted_v"))
    }),

    // ---------------------------------------------------------------
    // CSV SOURCE ROUNDTRIP (sources/Tabular) — the interchange edge of
    // the engine: orders → RFC-4180 CSV (header, quote-escaped) → read
    // back against an EXPLICIT schema (inference = a second 100 TB scan)
    // with PERMISSIVE quarantine — two injected vendor-feed lines (an
    // untypeable price, an untypeable date) must land in the dead-letter
    // group, not kill the job or vanish. The bad fields are ones this
    // aggregate PARSES — quarantine is pruning-relative (Tabular scaladoc
    // edge 2), so a line bad only in a pruned column is clean here by
    // design. ONE scan, ONE shuffle: the quarantine is just another group
    // of the same aggregate. The gate proves write→read is value-exact
    // for long/string/double/timestamp AND exactly the 2 bad lines
    // quarantined.
    "csv_source_roundtrip" -> ((s, dir) => {
      val base = scratchDir("graft_csv_")
      val csvDir = base.resolve("orders_csv").toString
      Tabular.writeCsv(Tables.orders(s, dir), csvDir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(csvDir, "part-vendor-bad.csv"),
        ("o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority\n" +
         "900001,7,O,not-a-price,2024-01-01T00:00:00.000,1-URGENT\n" +
         "900002,13,F,55.25,not-a-date,2-HIGH\n").getBytes("UTF-8"))
      val all = Tabular.readCsv(s, csvDir, Tables.orders(s, dir).schema)
      val bad = col(Tabular.CorruptCol).isNotNull
      val ok = (c: Column) => when(!bad, c)
      all.groupBy(when(bad, lit("__QUARANTINE__")).otherwise(col("o_orderstatus"))
          .as("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(ok(round(col("o_totalprice") * 100).cast("long"))).as("sum_cents"),
          min(ok(unix_micros(col("o_orderdate").cast("timestamp"))))
            .as("first_order_us"),
          max(ok(unix_micros(col("o_orderdate").cast("timestamp"))))
            .as("last_order_us"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---------------------------------------------------------------
    // ORC PARTITIONED SINK (sources/Tabular) — lineitem lands in a
    // returnflag-directory-partitioned ORC layout; the readback filters
    // ONE flag, and partition pruning must make that a directory skip
    // (PartitionFilters in the scan — plan-audited), not a data filter
    // over the full table. Revenue in exact micro-units. The gate proves
    // ORC write→read value parity against the parquet oracle.
    "orc_partitioned_sink" -> ((s, dir) => {
      val base = scratchDir("graft_orc_")
      val orcDir = base.resolve("lineitem_orc").toString
      Tabular.writeOrc(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_returnflag")),
        orcDir, partitionBy = Seq("l_returnflag"))
      Tabular.readOrc(s, orcDir)
        .filter(col("l_returnflag") === "R")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1000000L)
            .cast("long")).as("revenue_micro"))
    }),

    // ---------------------------------------------------------------
    // CDC MERGE (Maintenance.mergeCdc) — the upsert that keeps a 100 TB
    // snapshot current from a change feed. Deterministic batch: delete
    // keys ≡5 (mod 17), update keys ≡3 (mod 13) (+1000.00 on the price),
    // insert a shifted-key tranche with status N. The 100 TB asymmetry is
    // the design: the target scans ONCE and never shuffles — survivors
    // via a BROADCAST anti-join on the touched keys, upserts/inserts
    // union in map-side (plan-audited). Oracle recomputes the merged
    // state relationally; per-status counts/cents/key-sums pin every row.
    "cdc_merge_upsert" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val pay = orders.columns.map(col).toSeq
      val dels = orders.filter(col("o_orderkey") % 17 === 5)
        .select(pay :+ lit("d").as("__op"): _*)
      val upds = orders
        .filter(col("o_orderkey") % 17 =!= 5 && col("o_orderkey") % 13 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .select(pay :+ lit("u").as("__op"): _*)
      val ins = orders.filter(col("o_orderkey") % 29 === 7)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"), lit("N").as("o_orderstatus"),
          lit(99.99).as("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"), lit("u").as("__op"))
      Maintenance.mergeCdc(orders, dels.unionByName(upds).unionByName(ins),
          Seq("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"),
          sum(col("o_orderkey")).as("sum_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---------------------------------------------------------------
    // SCD TYPE-2 HISTORY (Maintenance.scd2Apply) — dimension-history
    // maintenance: two change waves (keys ≡2 mod 7 at 2021, the ≡2 mod 21
    // subset again at 2022) applied in ONE batch onto an all-open base.
    // The history side scans once, unshuffled, unwindowed (broadcast
    // first-change join closes open versions); only the tiny batch is
    // windowed for within-batch version chaining. Checksums pin interval
    // endpoints AND which balance belongs to which interval; the oracle
    // constructs the final history closed-form.
    "scd2_history" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val hist0 = cust.select(col("c_custkey"), col("c_acctbal"),
        to_timestamp(lit("2020-01-01 00:00:00")).as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))
      val wave1 = cust.filter(col("c_custkey") % 7 === 2)
        .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"),
          to_timestamp(lit("2021-01-01 00:00:00")).as("eff"))
      val wave2 = cust.filter(col("c_custkey") % 21 === 2)
        .select(col("c_custkey"), (col("c_acctbal") + 300.0).as("c_acctbal"),
          to_timestamp(lit("2022-01-01 00:00:00")).as("eff"))
      val hist = Maintenance.scd2Apply(hist0, wave1.unionByName(wave2),
        Seq("c_custkey"), "eff")
      val epoch = lit("2020-01-01").cast("date")
      hist.agg(
        count(lit(1)).as("n_versions"),
        sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open"),
        sum(when(col("valid_to").isNull,
          round(col("c_acctbal") * 100).cast("long"))).as("open_cents"),
        sum(col("c_custkey") *
          coalesce(datediff(col("valid_to").cast("date"), epoch), lit(0)))
          .as("closed_key_days"),
        sum(round(col("c_acctbal") * 100).cast("long") *
          (datediff(col("valid_from").cast("date"), epoch) + 1))
          .as("version_cents_weighted"))
    }),

    // ---------------------------------------------------------------
    // Z-ORDER LAYOUT QUALITY (Maintenance.zValue/zBucket) — the
    // clustering behind `OPTIMIZE ... ZORDER BY`: Morton-interleave
    // (part, supp) into a 20-bit z so every 1-of-64 z-range file gets a
    // small range of BOTH columns. The gate measures layout quality
    // relationally — distinct buckets a predicate's rows occupy = files
    // a min/max-pruned scan touches: the 2-d box stays in 2/64 z-files,
    // a y-only band stays in 8/64 z-files but hits all 64 of an x-sorted
    // layout. Bit-spread is pure codegen'd bitwise algebra (no UDF);
    // oracle re-derives it from the same twiddling in SQL.
    "zorder_layout" -> ((s, dir) => {
      val d = Tables.lineitem(s, dir).select(
          (col("l_partkey") % 1024).as("x"), (col("l_suppkey") % 1024).as("y"))
        .select(col("x"), col("y"),
          Maintenance.zBucket(Maintenance.zValue(col("x"), col("y"), 10), 10, 6)
            .as("zb"),
          shiftright(col("x"), 4).as("xb"))
      val box = col("x").between(96, 223) && col("y").between(320, 383)
      val ybox = col("y").between(320, 383)
      d.agg(
        sum(when(box, 1L).otherwise(0L)).as("n_rows_box"),
        count_distinct(when(box, col("zb"))).as("n_box_zbuckets"),
        count_distinct(when(ybox, col("zb"))).as("n_ybox_zbuckets"),
        count_distinct(when(ybox, col("xb"))).as("n_ybox_xbuckets"))
    }),

    // ---------------------------------------------------------------
    // INCREMENTAL AGGREGATE MAINTENANCE — the delta-processing pattern
    // that makes 100 TB snapshots affordable: per-source stats for the
    // NEW snapshot computed as OLD stats + a delta derived ONLY from the
    // rows the snapshot diff touched (added/changed/removed), never a
    // full recompute. The oracle recomputes the new snapshot directly,
    // so the gate PROVES incremental ≡ recompute. Snapshots reuse
    // corpus_snapshot_diff's deterministic construction. All counts are
    // exact integers — delta arithmetic is associative.
    "incremental_agg" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val nTok = size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long")
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("source"), col("doc_id"), nTok.as("nt"))
      val newText = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" [edited]"))).otherwise(col("text"))
      val newSnap = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("source"), col("doc_id"),
          size(regexp_extract_all(newText, lit("\\S+"), lit(0))).cast("long").as("nt"))
      val oldAgg = oldSnap.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"))
      // Delta touches ONLY diffed rows: subtract every old-side row that
      // left or changed, add every new-side row that arrived or changed.
      val oldKeys = oldSnap.select(col("doc_id")).withColumn("__in_old", lit(1))
      val newKeys = newSnap.select(col("doc_id")).withColumn("__in_new", lit(1))
      val leftSide = oldSnap.join(newKeys, Seq("doc_id"), "left")
        .filter(col("__in_new").isNull || col("doc_id") % 5 === 0) // removed ∪ changed
        .select(col("source"), lit(-1L).as("dd"), (-col("nt")).as("dt"))
      val rightSide = newSnap.join(oldKeys, Seq("doc_id"), "left")
        .filter(col("__in_old").isNull || col("doc_id") % 5 === 0) // added ∪ changed
        .select(col("source"), lit(1L).as("dd"), col("nt").as("dt"))
      val delta = leftSide.unionByName(rightSide)
        .groupBy(col("source"))
        .agg(sum(col("dd")).as("d_docs"), sum(col("dt")).as("d_tokens"))
      oldAgg.join(delta, Seq("source"), "full_outer")
        .select(col("source"),
          (coalesce(col("n_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L)))
            .as("n_docs"),
          (coalesce(col("total_tokens"), lit(0L)) + coalesce(col("d_tokens"), lit(0L)))
            .as("total_tokens"))
        .filter(col("n_docs") > 0)
        .orderBy(col("source"))
    }),

    // ---------------------------------------------------------------
    // SPLIT-LEAKAGE AUDIT — exact-duplicate fingerprints that straddle
    // train/validation/test: THE contamination check a reproducible
    // split must pass (content-independent split assignment means exact
    // dups CAN land in different splits — this measures how often).
    // One scan → (fingerprint)-keyed aggregate counting docs and
    // distinct splits per content hash; leaking groups = >1 split.
    "split_leakage" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val d = Tables.documents(s, dir).select(
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.splitAssign(col("doc_id")).as("split"))
      d.groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("split")).as("n_splits"))
        .agg(
          count(lit(1)).as("n_content_groups"),
          sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
          sum(when(col("n_splits") > 1, 1L).otherwise(0L)).as("n_leaking_groups"),
          sum(when(col("n_splits") > 1, col("n_docs")).otherwise(0L))
            .as("n_leaking_docs"))
    }),

    // ---------------------------------------------------------------
    // LEAKAGE-SAFE SPLIT — the CONSTRUCTIVE counterpart of the
    // split_leakage audit above: instead of measuring how many near-dups
    // straddle train/validation/test, assign the split by GROUP — every
    // member of a near-dup cluster hashes on the cluster id (singletons on
    // their own id), so related documents move between splits as one unit
    // and cross-split contamination is zero BY CONSTRUCTION. The output
    // carries `leaked_pairs` computed relationally over the pair set —
    // the gate proves it lands exactly 0, and proves the per-split doc /
    // group counts and id checksums against an oracle that re-derives the
    // clusters (recursive-CTE reachability), the group hash, and the leak
    // join independently. Shape at scale: components via star contraction
    // (O(log n) rounds), one left join docs⋈clusters (AQE broadcasts the
    // cluster map when it is small), map-side hash assignment, one
    // keyed aggregate; the leak check is two equi-joins on the pair set.
    "leakage_safe_split" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir)
      val pairs = s.read.parquet(s"$fixturesDir/minhash_lsh_pairs.parquet")
      val cc = Dedup.connectedComponentsStar(pairs)
      val assigned = docs.join(cc, Seq("doc_id"), "left")
        .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
        .select(col("doc_id"), col("group_id"),
          TextAnalysis.splitAssign(col("group_id")).as("split"))
      val leaks = pairs
        .join(assigned.select(col("doc_id").as("id1"), col("split").as("s1")),
          Seq("id1"))
        .join(assigned.select(col("doc_id").as("id2"), col("split").as("s2")),
          Seq("id2"))
        // coalesce: sum() over zero joined rows is NULL, while the oracle
        // COALESCEs to 0 — an empty pair set must report 0 leaks, not NULL
        .agg(coalesce(sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L)),
          lit(0L)).as("leaked_pairs"))
      assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("group_id")).as("n_groups"),
          sum(col("doc_id")).as("id_sum"))
        .crossJoin(broadcast(leaks))
        .orderBy(col("split"))
    }),

    // ---------------------------------------------------------------
    // TOP SESSION PATHS (Relational.sessionPaths): most frequent 3-step
    // event sequences inside 6-hour-gap sessions — ONE lead-window pass
    // (a trigram is in-session iff both adjacent gaps ≤ the gap; no
    // per-session array ever materializes), partial-aggregated global
    // count, fused top-20. Oracle materializes the sessions explicitly
    // (boundary-sum then LEAD inside each session) — an independent
    // formulation of the same semantics.
    "session_paths" -> ((s, dir) => {
      Relational.sessionPaths(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        gapSeconds = 21600L, n = 3, k = 20)
    }),

    // ---------------------------------------------------------------
    // READABILITY (TextAnalysis.readability): Flesch reading-ease over
    // integer regex counts — scan-speed quality signal, engine-exact.
    "readability" -> ((s, dir) => {
      TextAnalysis.readability(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // CHARACTER ENTROPY (TextAnalysis.charEntropy): gibberish detector —
    // entropy folds over the sorted distinct-char list, identical IEEE
    // term order on both engines. Map-side only.
    "char_entropy" -> ((s, dir) => {
      TextAnalysis.charEntropy(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------------
    // DETERMINISTIC PER-SOURCE SAMPLE — k=3 docs per source by rolling-
    // hash order: reservoir-quality uniform sampling that is REPRODUCIBLE
    // on any engine/partitioning (contrast rand()-based reservoirs),
    // through the TopKPerKey plan node so ≤ k rows per (source,
    // partition) cross the one exchange. The oracle recomputes the hash
    // chain and replays the selection with a window rank.
    "hash_sample_per_source" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val d = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          pmod(call_function("graft_rolling_hash", col("doc_id").cast("string")),
            lit(1000000007L)).as("sample_hash"))
      graft.plans.TopKPerKey.topKPerKey(d,
          keyCols = Seq("source"),
          orderBy = Seq(("sample_hash", true), ("doc_id", true)), k = 3)
        .select(col("source"), col("rank"), col("doc_id"), col("sample_hash"))
        .orderBy(col("source"), col("rank"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q7 shape — "volume shipping": bilateral trade between two
    // nations by ship year. The nation predicates are pushed into BOTH
    // dimension sides before any fact join (supplier and customer each
    // shrink to 2/25 of their rows), so the lineitem⋈orders shuffle only
    // carries pre-filtered keys; both dim joins broadcast. The
    // pair-direction disjunction runs map-side after the joins.
    "q7_volume_shipping" -> ((s, dir) => {
      val nations = Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_7", "NATION_8"))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(nations.select(col("n_nationkey"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(nations.select(col("n_nationkey").as("n2_nationkey"),
          col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("n2_nationkey"))
        .select(col("c_custkey"), col("cust_nation"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter((col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_8") ||
          (col("supp_nation") === "NATION_8" && col("cust_nation") === "NATION_7"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("__rev"))
        .select(col("supp_nation"), col("cust_nation"), col("l_year"),
          round(col("__rev").cast("double"), 6).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q8 shape — "national market share": one nation's fraction of
    // a region's ECONOMY-part import volume per order year. Part filter
    // (~1/6 of parts) and region-restricted customers both broadcast;
    // the share is a conditional-sum / sum ratio over the SAME decimal-
    // quantized volume terms, so numerator and denominator are exact and
    // the final double division is engine-identical.
    "q8_market_share" -> ((s, dir) => {
      val partF = Tables.part(s, dir).filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val eur = Tables.region(s, dir).filter(col("r_name") === "EUROPE")
        .select(col("r_regionkey"))
      val custEur = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(s, dir)
            .join(broadcast(eur), col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey").as("cn_nationkey"))),
          col("c_nationkey") === col("cn_nationkey"))
        .select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .join(broadcast(custEur), col("o_custkey") === col("c_custkey"))
      val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_7", vol).otherwise(lit(0.0))
            .cast("decimal(18,6)")).as("__num"),
          sum(vol.cast("decimal(18,6)")).as("__den"))
        .select(col("o_year"),
          round(col("__num").cast("double") / col("__den").cast("double"), 6)
            .as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q9 shape — "product-type profit" (adapted: no partsupp table,
    // so supply cost is proxied as half the part's retail price). Part-
    // name prefix filter broadcasts (~1/8 of parts) and prunes lineitem
    // before the orders shuffle; profit terms are decimal-quantized per
    // row so the per-(nation, year) sums are exact.
    "q9_product_profit" -> ((s, dir) => {
      val partF = Tables.part(s, dir).filter(col("p_name").like("red%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"),
          col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
      val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
        lit(0.5) * col("p_retailprice") * col("l_quantity")
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(amount.cast("decimal(18,6)")).as("__profit"))
        .select(col("nation"), col("o_year"),
          round(col("__profit").cast("double"), 6).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // ---------------------------------------------------------------
    // TPC-H Q10 shape — "returned items": top-20 customers by returned
    // revenue in a quarter. The revenue rollup runs FIRST on c_custkey
    // (one keyed exchange over the date-pruned fact join), and only the
    // aggregated sliver joins back to customer + broadcast nation — at
    // scale the customer join touches ~thousands of rows, not the fact
    // table. Final ordering fuses to TakeOrderedAndProject.
    "q10_returned_items" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val rev = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("__rev"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"),
          col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      rev.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          round(col("__rev").cast("double"), 6).as("revenue"),
          col("c_acctbal"), col("n_name"), col("__rev"))
        .orderBy(col("__rev").desc, col("c_custkey"))
        .limit(20)
        .drop("__rev")
    }),

    // ---------------------------------------------------------------
    // TPC-H Q11 shape — "important parts": parts whose one-nation line
    // value exceeds 1/1000 of that nation's total. The per-part rollup
    // runs once; the global total is a single-row re-aggregation of the
    // SAME rollup (no second fact scan), broadcast back as a cross join.
    // Both sides of the threshold comparison are exact decimals, so the
    // predicate is engine-identical.
    "q11_important_parts" -> ((s, dir) => {
      val suppF = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_7")
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val partVal = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(suppF), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("__val"))
      val total = partVal.agg(sum(col("__val")).as("__total"))
      partVal.crossJoin(broadcast(total))
        .filter(col("__val") * lit(1000) > col("__total"))
        .select(col("p_partkey"), round(col("__val").cast("double"), 6).as("value"),
          col("__val"))
        .orderBy(col("__val").desc, col("p_partkey"))
        .drop("__val")
    }),

    // ---------------------------------------------------------------
    // TPC-H Q13 shape — "customer order-count distribution": LEFT join
    // keeps zero-order customers, the priority predicate lives on the
    // join's right side (pre-filtered, so it cannot turn the outer join
    // inner), and the second aggregation runs over one row per customer
    // — tiny. COUNT(col) counts non-null matches only.
    "q13_order_distribution" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // ---------------------------------------------------------------
    // TPC-H Q15 shape — "top supplier": per-supplier quarterly revenue,
    // then the supplier(s) achieving the maximum. The max is a one-row
    // re-aggregation of the same rollup broadcast back; revenue equality
    // compares exact decimals (never rounded doubles), so ties and the
    // max itself are engine-identical. The rollup (one small row per
    // supplier) persists so BOTH branches ride one fact scan — unlike
    // q11, AQE does not stage-reuse this shape on its own.
    "q15_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("__rev"))
        .persistTracked()
      val maxRev = rev.agg(max(col("__rev")).as("__max"))
      rev.crossJoin(broadcast(maxRev))
        .filter(col("__rev") === col("__max"))
        .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("__rev").cast("double"), 6).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q17 shape — "small-quantity revenue": lineitems below 20% of
    // their part's average quantity, annualized. The correlated AVG
    // decorrelates into a per-part rollup joined back broadcast (the
    // brand+type filter leaves a handful of parts); quantities are
    // integral so the average is exact on both engines.
    "q17_small_quantity" -> ((s, dir) => {
      val partF = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#23" && col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
      val perPart = li.groupBy(col("p_partkey").as("avg_partkey"))
        .agg(avg(col("l_quantity")).as("__qavg"))
      li.join(broadcast(perPart), col("p_partkey") === col("avg_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("__qavg"))
        .agg(round(
          sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double") / lit(7.0),
          6).as("avg_yearly"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q2 shape — "min-cost supplier" (adapted: no partsupp, so the
    // per-(part, supplier) unit cost is the minimum observed
    // extendedprice/quantity). The correlated MIN decorrelates into a
    // per-part rollup of the SAME (part, supplier) aggregate, joined
    // back on partkey — co-partitioned, no extra fact scan. Both filter
    // dims broadcast. Unit prices compare as raw doubles: identical
    // inputs through one IEEE divide and an exact MIN.
    "q2_min_cost_supplier" -> ((s, dir) => {
      val partF = Tables.part(s, dir)
        .filter(col("p_size") === 15 && col("p_name").like("%bolt"))
        .select(col("p_partkey"))
      val suppEur = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")
              .select(col("r_regionkey"))),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val ps = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_quantity"))
        .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppEur), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("s_suppkey"), col("s_name"),
          col("s_acctbal"), col("n_name"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("__unit"))
      val pmin = ps.groupBy(col("p_partkey").as("min_partkey"))
        .agg(min(col("__unit")).as("__min_unit"))
      ps.join(pmin, col("p_partkey") === col("min_partkey"))
        .filter(col("__unit") === col("__min_unit"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          round(col("__unit"), 6).as("unit_price"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q16 shape — "part/supplier attribute counts": distinct
    // suppliers per (brand, type, size) bucket, excluding a supplier
    // blacklist. NOT IN rewrites to a broadcast LEFT ANTI join (safe:
    // suppkey is never null); both dims broadcast so the only exchange
    // is the final grouped distinct.
    "q16_part_supplier_counts" -> ((s, dir) => {
      val partF = Tables.part(s, dir)
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36, 45, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val badSupp = Tables.supplier(s, dir).filter(col("s_name").like("%7"))
        .select(col("s_suppkey"))
      Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q20 shape — "part promotion" (adapted: no partsupp availqty,
    // so a supplier qualifies by having shipped >25% of a part's 1996
    // volume). Two chained rollups on partkey — per-(part, supplier)
    // then per-part — join co-partitioned; quantities are integral and
    // summed as BIGINT, so the 4×qty > total comparison is exact.
    "q20_part_promotion" -> ((s, dir) => {
      val partF = Tables.part(s, dir).filter(col("p_name").like("hot%"))
        .select(col("p_partkey"))
      val ps = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("bigint")).as("__qty"))
      val pt = ps.groupBy(col("l_partkey").as("tot_partkey"))
        .agg(sum(col("__qty")).as("__total"))
      ps.join(pt, col("l_partkey") === col("tot_partkey"))
        .filter(col("__qty") * 4 > col("__total"))
        .select(col("l_suppkey")).distinct()
        .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    }),

    // ---------------------------------------------------------------
    // TPC-H Q21 shape — "suppliers who kept orders waiting": late (>90
    // days after order date) lines of one region's suppliers, on multi-
    // supplier finished orders where NO other supplier was late. The
    // EXISTS / NOT EXISTS pair collapses into ONE per-order aggregate
    // (distinct suppliers, distinct late suppliers) joined back on
    // orderkey — co-partitioned with the grouped base, a single fact
    // scan feeding both sides.
    "q21_waiting_suppliers" -> ((s, dir) => {
      val ordF = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val base = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .withColumn("__late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      // aggregate-before-distinct: a double countDistinct would plan as an
      // Expand (×2 rows into the exchange). Rolling up per (order,
      // supplier) FIRST — carrying the late-line count — gives both the
      // per-order aggregate AND the late-supplier branch the same rollup
      // subtree, so AQE reuses its shuffle stage and the fact is scanned
      // once (probed: the l1-as-raw-lines form does not reuse).
      val perSupp = base
        .groupBy(col("o_orderkey"), col("l_suppkey"))
        .agg(sum(when(col("__late"), lit(1L)).otherwise(lit(0L))).as("__late_lines"))
      val ordAgg = perSupp.groupBy(col("o_orderkey").as("agg_orderkey"))
        .agg(count(lit(1)).as("__n_supp"),
          sum(when(col("__late_lines") > 0, lit(1L)).otherwise(lit(0L))).as("__n_late"))
      val suppAsia = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")
              .select(col("r_regionkey"))),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      perSupp.filter(col("__late_lines") > 0)
        .join(broadcast(suppAsia), col("l_suppkey") === col("s_suppkey"))
        .join(ordAgg, col("o_orderkey") === col("agg_orderkey"))
        .filter(col("__n_supp") > 1 && col("__n_late") === 1)
        .groupBy(col("s_name"))
        .agg(sum(col("__late_lines")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // ---------------------------------------------------------------
    // TPC-H Q22 shape — "dormant high-balance customers" (adapted: the
    // anti join is against orders SINCE 2000 — every customer has some
    // order in this data). The global positive-balance average is a one-
    // row scalar broadcast back; the comparison divides the same exact
    // decimal sum by the same count on both engines.
    "q22_dormant_customers" -> ((s, dir) => {
      val oddNations = Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_1", "NATION_3", "NATION_5", "NATION_7",
          "NATION_9", "NATION_11", "NATION_13"))
        .select(col("n_nationkey"), col("n_name"))
      val sel = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
        .join(broadcast(oddNations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_acctbal"), col("n_name"))
      val avgRow = sel.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("__avg"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      sel.crossJoin(broadcast(avgRow))
        .filter(col("c_acctbal") > col("__avg"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal").cast("decimal(18,6)")).cast("double"), 6)
            .as("totacctbal"))
        .orderBy(col("n_name"))
    }),

    // ---------------------------------------------------------------
    // MARKOV TRANSITIONS (Behavior.markovTransitions): first-order
    // next-event model — one user-keyed lead window, two hash aggregates,
    // broadcast totals join; probability emitted as exact integer
    // micro-units (n·1e6 div total), so no engine float crosses the gate.
    "markov_transitions" -> ((s, dir) => {
      Behavior.markovTransitions(Tables.events(s, dir),
          col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .orderBy(col("event_type"), col("next_type"))
    }),

    // ---------------------------------------------------------------
    // ROLLING DISTINCT ACTIVES (Behavior.rollingActiveUsers): DAU /
    // trailing-7-day WAU / integer stickiness per active day. distinct-
    // over-RANGE-frame is unsupported everywhere; the scalable form
    // dedups to (day,user) grain first, then fans each row out to its ≤7
    // window ends — bounded ×7 on the deduped grain, never on raw events.
    "active_users_rolling" -> ((s, dir) => {
      Behavior.rollingActiveUsers(Tables.events(s, dir),
          col("user_id"), col("ts"), windowDays = 7)
        .orderBy(col("day"))
    }),

    // ---------------------------------------------------------------
    // EVENT-TYPE CO-OCCURRENCE (Behavior.coOccurrencePairs): market-basket
    // top-20 — per-user distinct types pair via a user-keyed self-join
    // (quadratic only in the bounded type vocabulary), per-type totals
    // broadcast back, top-k fused to TakeOrderedAndProject.
    "copair_topk" -> ((s, dir) => {
      Behavior.coOccurrencePairs(Tables.events(s, dir),
        col("user_id"), col("event_type"), k = 20)
    }),

    // ---------------------------------------------------------------
    // ROBUST ANOMALY PROFILE (Behavior.robustAnomalyProfile): per-type
    // exact median + MAD and the count outside median ± 3.5·1.4826·MAD —
    // the robust z-score beside s1's mean/stddev form. Two percentile
    // aggregates keyed by the bounded type vocabulary with the tiny
    // medians frame broadcast between passes; Spark's percentile and
    // DuckDB's quantile_cont share the (n−1)·q interpolation convention,
    // and both emit micro-scaled integers.
    "robust_anomalies" -> ((s, dir) => {
      Behavior.robustAnomalyProfile(Tables.events(s, dir),
          col("event_type"), col("value"), cutoff = 3.5)
        .orderBy(col("event_type"))
    }),

    // ---------------------------------------------------------------
    // PREFIX-FILTERING SIMILARITY JOIN (Dedup.prefixFilterJoin): EXACT
    // Jaccard ≥ 0.8 pair set with no approximation — candidates only from
    // rarest-first shingle prefixes (the All-Pairs/PPJoin pruning, provably
    // lossless), verified by the size-prefiltered intersect join. The
    // oracle recomputes the pair set by BRUTE FORCE with the identical
    // integer-quantized threshold predicate — equality proves the pruning
    // dropped nothing. Complements minhash_lsh_pairs (which trades recall
    // near the threshold for shorter candidate lists).
    "sim_prefix_join" -> ((s, dir) => {
      Dedup.prefixFilterJoin(Tables.documents(s, dir),
          col("doc_id"), col("text"), threshold = 0.8, shingleK = 3)
        .orderBy(col("id1"), col("id2"))
    }),

    // ---------------------------------------------------------------
    // BLOCKED FUZZY LINKAGE (Linkage.blockedNameMatches): entity
    // resolution over part names — block on the last name token, verify
    // in-block pairs with codegen levenshtein, emit the per-block audit
    // grain (records, pairs actually compared, matches at ≤3 edits, exact
    // dups). The oracle replays blocking + edit distance in DuckDB's own
    // levenshtein.
    "fuzzy_blocking" -> ((s, dir) => {
      Linkage.blockedNameMatches(Tables.part(s, dir),
          col("p_partkey"), col("p_name"), blockRegex = "(\\S+)$", maxDist = 3)
        .orderBy(col("block_key"))
    }),

    // ---------------------------------------------------------------
    // SCHEMA EVOLUTION READBACK: two landed parquet batches with evolving
    // schemas (early batch: doc_id+lang; later batch adds source+n_chars)
    // unify under mergeSchema=true — the widened schema null-fills the old
    // batch. The aggregate separates per-lang totals from evolved-column
    // totals, and the oracle re-derives both straight from the documents
    // table. mergeSchema reads every file's footer (why Spark defaults it
    // off) — production layouts keep ONE authoritative schema per table
    // version, but an engine must still read mixed layouts landed before a
    // migration.
    "schema_evolution" -> ((s, dir) => {
      val base = scratchDir("graft_evolve_")
      val d1 = base.resolve("batch1").toString
      val d2 = base.resolve("batch2").toString
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(d1)
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(d2)
      s.read.option("mergeSchema", "true").parquet(d1, d2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("source")).as("n_evolved"),
          coalesce(sum(col("n_chars")), lit(0L)).cast("long")
            .as("sum_chars_evolved"))
        .orderBy(col("lang"))
    }),

    // ---------------------------------------------------------------
    // COUNT-MIN SKETCH (Sketches): per-user frequency estimates from a
    // 3×64 counter grid — the bounded-state sketch whose hash family is
    // the engine's own poly31 fingerprint, so the oracle REBUILDS the
    // sketch from scratch in SQL and replays construction + estimation.
    // Width 64 over ~1.5k keys forces heavy collisions: the overest
    // column is the sketch's actual error surface, gated exactly.
    "cms_estimate" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val counters = Sketches.cmsCounters(ev, col("user_id"), depth = 3, width = 64)
      val sampled = ev.filter(col("user_id") % 10 === 0)
      val exact = sampled.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      Sketches.cmsEstimate(counters, sampled, col("user_id"), depth = 3, width = 64)
        .join(exact, col("__k") === col("user_id").cast("string"))
        .select(col("user_id"), col("exact_n"), col("cms_est"),
          (col("cms_est") - col("exact_n")).as("overest"))
        .orderBy(col("user_id"))
    }),

    // ---------------------------------------------------------------
    // INCREMENTAL JOIN MAINTENANCE (Maintenance.incrementalJoinDelta):
    // orders split into base/delta by date, customers by key parity; the
    // maintained join = base⋈base ∪ the three delta terms. The oracle
    // computes the FULL join from the base tables — equality proves the
    // incremental refresh reconstructs it exactly (ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB
    // is disjoint and complete for insert-only deltas).
    "incremental_join" -> ((s, dir) => {
      val cutoff = lit("2000-01-01").cast("timestamp")
      val o = Tables.orders(s, dir).select(col("o_custkey").as("custkey"),
        col("o_totalprice"), col("o_orderdate"))
      val c = Tables.customer(s, dir).select(col("c_custkey").as("custkey"),
        col("c_mktsegment"))
      val oldJoin = o.filter(col("o_orderdate") < cutoff)
        .join(c.filter(col("custkey") % 2 === 0), Seq("custkey"))
      val delta = Maintenance.incrementalJoinDelta(
        o.filter(col("o_orderdate") < cutoff),
        o.filter(col("o_orderdate") >= cutoff),
        c.filter(col("custkey") % 2 === 0),
        c.filter(col("custkey") % 2 === 1), Seq("custkey"))
      oldJoin.unionByName(delta)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---------------------------------------------------------------
    // CMS JOIN-SIZE ESTIMATE (Sketches.cmsJoinSizeEstimate): |orders ⋈
    // lineitem| predicted from two 3×16384 sketches over the join key —
    // the planner's broadcast-vs-shuffle/fan-out question answered without
    // running the join. min-of-inner-products ≥ the true size (collision
    // cross-terms are nonnegative); the inner-product error is
    // ~(e/width)·|A|·|B|, so width must track key cardinality — 16384 over
    // 15k/60k keys lands ~2× above exact, decision-grade for
    // broadcast-vs-shuffle. The oracle rebuilds both sketches in SQL and
    // emits the same integers, plus the exact size for the error surface.
    "cms_join_size" -> ((s, dir) => {
      val co = Sketches.cmsCounters(Tables.orders(s, dir),
        col("o_orderkey"), depth = 3, width = 16384)
      val cl = Sketches.cmsCounters(Tables.lineitem(s, dir),
        col("l_orderkey"), depth = 3, width = 16384)
      val exact = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
        .join(Tables.lineitem(s, dir).select(col("l_orderkey").as("k")), Seq("k"))
        .agg(count(lit(1)).as("exact_join_rows"))
      Sketches.cmsJoinSizeEstimate(co, cl).crossJoin(exact)
        .select(col("est_join_rows"), col("exact_join_rows"),
          (col("est_join_rows") - col("exact_join_rows")).as("overest"))
    }),

    // ---------------------------------------------------------------
    // ANTI-ENTROPY TABLE SYNC (Maintenance.segmentChecksums): snapshot B
    // drops every 89th document and edits every 97th; both snapshots
    // reduce to 16 (n_rows, xor_sig, add_sig) segment rows, and only
    // segments whose triples differ would re-transfer. Row signature =
    // poly31 over md5(doc_id ⧺ normalized text) — ASCII hex, so the
    // oracle replays the exact fold.
    "table_sync_diff" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir)
      def sigged(df: DataFrame): DataFrame = df.select(col("doc_id"),
        call_function("graft_rolling_hash",
          md5(concat_ws("|", col("doc_id").cast("string"),
            TextAnalysis.normalizeText(col("text"))).cast("binary"))).as("__sig"))
      val snapA = sigged(docs)
      val snapB = sigged(docs.filter(col("doc_id") % 89 =!= 0)
        .withColumn("text", when(col("doc_id") % 97 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text"))))
      val ca = Maintenance.segmentChecksums(snapA, col("doc_id"), col("__sig"), 16)
      val cb = Maintenance.segmentChecksums(snapB, col("doc_id"), col("__sig"), 16)
      ca.as("a").join(cb.as("b"), Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("a.n_rows"), lit(0L)).as("n_rows_a"),
          coalesce(col("b.n_rows"), lit(0L)).as("n_rows_b"),
          when(col("a.n_rows").isNotNull && col("b.n_rows").isNotNull
              && col("a.n_rows") === col("b.n_rows")
              && col("a.xor_sig") === col("b.xor_sig")
              && col("a.add_sig") === col("b.add_sig"), 1L).otherwise(0L)
            .as("in_sync"))
        .orderBy(col("bucket"))
    })
  )

  /** DuckDB-runnable ANSI SQL oracle per query (same tables; the driver
    * sorts columns by name then hash-compares values).
    *
    * Two oracle families:
    *  - CLOSED-FORM SQL re-deriving the result from the base tables /
    *    generating formulas — the strongest gate (independent computation);
    *  - GOLDEN FIXTURES (`SELECT * FROM read_parquet('fixtures/…')`) for
    *    deterministic outputs with no SQL form (kernel chains like CLAHE /
    *    Butterworth, LSH pair sets, HLL estimates). Fixtures are committed
    *    single-file parquet written by [[graft.tools.FixtureGen]] at
    *    sf0.01 (the driver's correctness SF) and verified bit-stable
    *    across sessions AND thread counts before gating; a diff against
    *    them is a regression unless the behavior change was intended (then
    *    regenerate via FixtureGen and re-commit).
    */
  def oracleSql: Map[String, String] = {
    def fixtureSql(name: String, orderBy: String): String =
      s"SELECT * FROM read_parquet('$fixturesDir/$name.parquet') ORDER BY $orderBy"
    def fixture(name: String, orderBy: String): (String, String) =
      name -> fixtureSql(name, orderBy)
    // a committed pair fixture under one id restriction: pairs touching
    // the batch (id % 5 = 0); those with no removed standing endpoint
    // (standing = id % 5 <> 0, removed = id % 7 = 0); or both standing
    def pairs(name: String, score: String, where: String): String =
      s"""SELECT id1, id2, $score
        |FROM read_parquet('$fixturesDir/$name.parquet')
        |WHERE $where
        |ORDER BY id1, id2""".stripMargin
    val touching = "id1 % 5 = 0 OR id2 % 5 = 0"
    val unremoved = "(id1 % 5 = 0 OR id2 % 5 = 0)\n" +
      "  AND NOT (id1 % 5 <> 0 AND id1 % 7 = 0)\n" +
      "  AND NOT (id2 % 5 <> 0 AND id2 % 7 = 0)"
    val standing = "id1 % 5 <> 0 AND id2 % 5 <> 0"
    // each oracle below serves several gates, bound once
    val minhashTouching = pairs("minhash_lsh_pairs", "jaccard", touching)
    val minhashRemoved = pairs("minhash_lsh_pairs", "jaccard", unremoved)
    val minhashStanding = pairs("minhash_lsh_pairs", "jaccard", standing)
    val embTouching = pairs("embedding_neardups", "cosine", touching)
    val embRemoved = pairs("embedding_neardups", "cosine", unremoved)
    val embStanding = pairs("embedding_neardups", "cosine", standing)
    val phashTouching = pairs("mm_phash_neardups", "hamming", touching)
    // connected components of the committed minhash pair graph
    val clustersOracle =
      s"""WITH RECURSIVE e AS (
        |  SELECT id1, id2 FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')),
        |nodes AS (SELECT id1 AS id FROM e UNION SELECT id2 FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT reach.id, CASE WHEN e.id1 = reach.r THEN e.id2 ELSE e.id1 END AS r
        |  FROM reach JOIN e ON e.id1 = reach.r OR e.id2 = reach.r)
        |SELECT id AS doc_id, MIN(r) AS cluster_id, (MIN(r) = id) AS is_canonical
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin
    // exact cosine top-5 per query, recomputed in DuckDB
    val cosineTopKOracle =
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT q_id, c_id,
        |    CASE WHEN list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |           OR list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |      THEN 0.0
        |      ELSE list_sum(list_transform(list_zip(qv, cv),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |           / (SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |              * SQRT(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      END AS cos
        |  FROM c CROSS JOIN q WHERE q_id <> c_id)
        |SELECT q_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS BIGINT) AS rank,
        |       c_id, ROUND(cos, 6) AS cos
        |FROM scored
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) <= 5
        |ORDER BY q_id, rank""".stripMargin
    // 4-connected region growing from the centre seed, recomputed
    val regionGrowOracle =
      """WITH RECURSIVE img AS (
        |  SELECT CAST(range AS BIGINT) // 256 AS image_id,
        |         (CAST(range AS BIGINT) % 256) // 16 AS y,
        |         CAST(range AS BIGINT) % 16 AS x,
        |         (((CAST(range AS BIGINT) % 256) // 16) * 4 + (CAST(range AS BIGINT) % 16) * 2) % 256 AS v
        |  FROM range(512)),
        |seedv AS (SELECT image_id, v AS seed_v FROM img WHERE y = 8 AND x = 8),
        |adm AS (
        |  SELECT i.image_id, i.y, i.x FROM img i JOIN seedv s ON i.image_id = s.image_id
        |  WHERE abs(i.v / 255.0 - s.seed_v / 255.0) <= 0.08),
        |grow AS (
        |  SELECT image_id, CAST(8 AS BIGINT) AS y, CAST(8 AS BIGINT) AS x FROM seedv
        |  UNION
        |  SELECT a.image_id, a.y, a.x
        |  FROM adm a JOIN grow g ON a.image_id = g.image_id
        |   AND abs(a.y - g.y) + abs(a.x - g.x) = 1)
        |SELECT image_id, y, x FROM grow ORDER BY image_id, y, x""".stripMargin
    Map(
    fixture("m3_pipeline_stats", "file_name"),
    fixture("d11_butterworth", "image_id"),
    fixture("e13_bf_score", "image_id"),
    fixture("g2_dense_segment", "image_id"),
    fixture("mm_media_features", "media_id"),
    // real-PNG perceptual-hash near-dups: PNG encode + aHash + banding are
    // engine-specific, so the committed fixture is the oracle (bit-stable:
    // integer hash thresholds, exact Hamming verify)
    fixture("mm_phash_neardups", "id1, id2"),
    // image-tier quarantine is exact at every bound — same fixture
    "mm_phash_quarantine" -> fixtureSql("mm_phash_neardups", "id1, id2"),
    // standing-catalog incremental ≡ full run restricted to
    // batch-touching pairs (per-media hash rows — the
    // minhash_incremental restriction logic on the image tier)
    "phash_incremental" -> phashTouching,
    // loaded-catalog serving ≡ in-memory serving (exact long hash rows,
    // partition-order-independent joins) — the incremental restriction
    // oracle verbatim
    "phash_index_roundtrip" -> phashTouching,
    // frame tier: full run is its own fixture; the incremental gate is
    // the closed-form restriction — frame_id = media_id·64 + frame_idx,
    // so "touches a batch video" is (id DIV 64) % 5 = 0
    fixture("mm_frame_pairs", "id1, id2"),
    // catalog-served audit ≡ the cold full run (catalog rows are the
    // hash pass's own output) — same fixture, verbatim
    "mm_frame_pairs_catalog" ->
      s"""SELECT id1, id2, hamming
        |FROM read_parquet('$fixturesDir/mm_frame_pairs.parquet')
        |ORDER BY id1, id2""".stripMargin,
    "mm_frame_neardups" ->
      s"""SELECT id1, id2, hamming
        |FROM read_parquet('$fixturesDir/mm_frame_pairs.parquet')
        |WHERE (id1 // 64) % 5 = 0 OR (id2 // 64) % 5 = 0
        |ORDER BY id1, id2""".stripMargin,
    // remove ≡ fresh build over corpus∖removed (per-media hash rows) —
    // batch-touching pairs with NO removed standing endpoint
    "phash_index_remove" -> pairs("mm_phash_neardups", "hamming", unremoved),
    fixture("m5_dense_kernels", "image_id"),
    fixture("minhash_lsh_pairs", "id1, id2"),
    // incremental ≡ full-run restricted to batch-touching pairs — the
    // oracle IS the committed full-run fixture under that restriction
    "minhash_incremental" -> minhashTouching,
    // loaded catalog ≡ built catalog — the roundtrip reuses the
    // incremental restriction oracle verbatim
    "dedup_index_roundtrip" -> minhashTouching,
    // health rows from the committed fixture; derived rows at their
    // closed-form sf0.01 values (autoBanding(400, 0.5) = (32, 16); the
    // 175-pair budget excludes exactly the one 3-bucket → bound 2 —
    // derivations property-tested in DedupTextSpec)
    "dedup_operating_report" ->
      s"""SELECT metric, key, value
        |FROM read_parquet('$fixturesDir/dedup_index_health.parquet')
        |UNION ALL SELECT 'auto_num_hashes', CAST(-1 AS BIGINT), CAST(32 AS BIGINT)
        |UNION ALL SELECT 'auto_bands', CAST(-1 AS BIGINT), CAST(16 AS BIGINT)
        |UNION ALL SELECT 'quarantine_bound_175', CAST(-1 AS BIGINT), CAST(2 AS BIGINT)
        |ORDER BY metric, key""".stripMargin,
    // policy-rebuilt catalog ≡ fresh-built at the derived 16×2 banding
    // (same staged frame, bit-identical signature/banding expressions) —
    // same restriction oracle verbatim
    "dedup_rebuild_policy" -> minhashTouching,
    // quarantined incremental ≡ incremental (lossless fallback; total
    // LSH recall at this corpus) — same restriction oracle
    "minhash_incremental_quarantined" -> minhashTouching,
    // retention delete: per-doc member rows make remove ≡ fresh build on
    // corpus∖removed, so the served pair set is the committed full-run
    // fixture restricted to batch-touching pairs with NO removed
    // standing endpoint (standing = id % 5 ≠ 0; removed = % 7 = 0)
    "dedup_index_remove" -> minhashRemoved,
    // compaction repartitions content-identical frames and pair sets are
    // partition-independent — remove→compact reuses the remove oracle
    "dedup_index_compact" -> minhashRemoved,
    // policy-fired compaction: base+appends ≡ one build over % 5 ≠ 0
    // (per-doc member rows) and pair sets are partition-independent, so
    // the policy gate reuses the incremental restriction oracle
    "dedup_compact_policy" -> minhashTouching,
    fixture("simhash_pairs", "id1, id2"),
    // hot-band quarantine is EXACT at every bound (the collapse fallback
    // re-finds every withheld band-sharing pair at the same Hamming), so
    // both quarantine gates reuse the committed full-run fixture verbatim
    "simhash_quarantine" -> fixtureSql("simhash_pairs", "id1, id2"),
    "simhash_quarantine_budget" -> fixtureSql("simhash_pairs", "id1, id2"),
    fixture("embedding_neardups", "id1, id2"),
    // per-vector bucket rows: incremental ≡ full run restricted to
    // batch-touching pairs (the minhash_incremental logic, semantic tier)
    "embdedup_incremental" -> embTouching,
    // remove ≡ fresh build on corpus∖removed ⇒ drop pairs with a removed
    // standing endpoint (standing = id % 5 ≠ 0; removed = % 7 = 0)
    "embdedup_index_remove" -> embRemoved,
    // compaction repartitions a content-identical frame — reuse verbatim
    "embdedup_index_compact" -> embRemoved,
    // loaded catalog ≡ built catalog (storage-exact doubles/longs) — the
    // roundtrip reuses the incremental restriction oracle verbatim
    "embdedup_index_roundtrip" -> embTouching,
    // policy-rebuilt catalog ≡ fresh-built at the derived 4 planes
    // (autoPlanes(400) = 4 — the fixture's own bucketing) — same
    // restriction oracle verbatim
    "embdedup_rebuild_policy" -> embTouching,
    // policy-fired compaction: base+appends ≡ one build (per-vector
    // rows) and pair sets are partition-independent — same oracle
    "embdedup_compact_policy" -> embTouching,
    // quarantine re-routes hot buckets through the LOSSLESS cell join,
    // so the pair set ≡ the unquarantined catalog run — the committed
    // full-run fixture under the both-endpoints-standing restriction
    "embdedup_quarantine" -> embStanding,
    // the budget-derived bound re-routes MORE buckets, never different
    // pairs (lossless) — same restriction oracle
    "embdedup_quarantine_budget" -> embStanding,
    // the one ANN oracle DuckDB computes ITSELF (list_cosine_similarity
    // over the same parquet — no fixture): measured sf0.01 margins are
    // 1.3e-4 to the threshold and 2e-8 to the nearest 6-dp rounding
    // boundary, both far beyond cross-engine double noise
    "ann_range_exact" ->
      """SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |  ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])), 6) AS cos
        |FROM embeddings q, embeddings c
        |WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id
        |  AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])) >= CAST(0.3 AS DOUBLE)
        |ORDER BY q_id, c_id""".stripMargin,
    fixture("ann_range_search", "q_id, c_id"),
    fixture("ann_range_rerank", "q_id, c_id"),
    // closed-form: seen counts from the base tables; the drop policy
    // replayed over the committed minhash fixture under the incremental
    // restriction (id1 % 5 = 0 OR id2 % 5 = 0 — the same invariant
    // minhash_incremental gates); every referential invariant a literal 0
    "catalog_consistency_report" ->
      s"""WITH pairs AS (
        |  SELECT id1, id2
        |  FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')
        |  WHERE id1 % 5 = 0 OR id2 % 5 = 0),
        |sym AS (
        |  SELECT id1 AS cand, id2 AS other FROM pairs
        |  UNION ALL SELECT id2, id1 FROM pairs),
        |dropped AS (
        |  SELECT DISTINCT cand FROM sym
        |  WHERE cand % 5 = 0 AND (other % 5 <> 0 OR other < cand))
        |SELECT metric, value FROM (
        |  SELECT 'seen_docs' AS metric,
        |    (SELECT count(*) FROM documents) AS value
        |  UNION ALL SELECT 'seen_embeddings',
        |    (SELECT count(*) FROM embeddings)
        |  UNION ALL SELECT 'served_vectors',
        |    (SELECT count(*) FROM embeddings) - (SELECT count(*) FROM dropped)
        |  UNION ALL SELECT 'dropped_by_policy',
        |    (SELECT count(*) FROM dropped)
        |  UNION ALL SELECT 'ann_not_in_emb', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'emb_not_in_dedup', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'dropped_still_served', CAST(0 AS BIGINT))
        |ORDER BY metric""".stripMargin,
    fixture("i1_distinct_counts", "source"),
    fixture("ann_lsh_topk", "q_id, rank"),
    fixture("ann_ivf_topk", "q_id, rank"),
    fixture("ann_pq_topk", "q_id, rank"),
    fixture("ann_ivfpq_topk", "q_id, rank"),
    fixture("ann_ivfpq_rerank", "q_id, rank"),
    fixture("ann_ivf_topk_p8", "q_id, rank"),
    fixture("ann_ivfpq_rerank_p8", "q_id, rank"),
    fixture("ann_index_append", "q_id, rank"),
    fixture("ann_index_remove", "q_id, rank"),
    // remove∘append-back restores the full index frame-for-frame (append
    // is the build's own post-training pipeline against the same frozen
    // quantizers), so the update path's oracle IS the committed
    // full-build fixture
    "ann_index_update" -> fixtureSql("ann_ivfpq_topk", "q_id, rank"),
    // compaction repartitions content-identical frames and serving is
    // partition-independent, so append→compact serves the committed
    // append fixture exactly
    "ann_index_compact" -> fixtureSql("ann_index_append", "q_id, rank"),
    // policy-fired compaction: four sub-appends are content-identical to
    // the single append (per-vector assignment/coding) and serving is
    // partition-independent, so the policy gate reuses the append fixture
    "ann_compact_policy" -> fixtureSql("ann_index_append", "q_id, rank"),
    fixture("retention_pipeline", "q_id, rank"),
    // four-family retention: the dedup/emb/phash legs are CLOSED-FORM
    // restrictions of their committed full-run fixtures (remove ≡ fresh
    // build over corpus∖removed — per-doc member rows), checked by DuckDB
    // independently of this gate's own fixture; the ANN leg (engine-
    // specific ranking after the same tombstones) rides the committed
    // composed fixture like every trained-ANN tier
    "retention_pipeline_full" ->
      s"""SELECT * FROM (
        |  SELECT 'dedup' AS family, id1, id2, jaccard AS score
        |  FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')
        |  WHERE (id1 % 5 = 0 OR id2 % 5 = 0)
        |    AND NOT (id1 % 5 <> 0 AND id1 % 7 = 0)
        |    AND NOT (id2 % 5 <> 0 AND id2 % 7 = 0)
        |  UNION ALL
        |  SELECT 'emb' AS family, id1, id2, cosine AS score
        |  FROM read_parquet('$fixturesDir/embedding_neardups.parquet')
        |  WHERE (id1 % 5 = 0 OR id2 % 5 = 0)
        |    AND NOT (id1 % 5 <> 0 AND id1 % 7 = 0)
        |    AND NOT (id2 % 5 <> 0 AND id2 % 7 = 0)
        |  UNION ALL
        |  SELECT 'phash' AS family, id1, id2, CAST(hamming AS DOUBLE) AS score
        |  FROM read_parquet('$fixturesDir/mm_phash_neardups.parquet')
        |  WHERE (id1 % 5 = 0 OR id2 % 5 = 0)
        |    AND NOT (id1 % 5 <> 0 AND id1 % 7 = 0)
        |    AND NOT (id2 % 5 <> 0 AND id2 % 7 = 0)
        |  UNION ALL
        |  SELECT family, id1, id2, score
        |  FROM read_parquet('$fixturesDir/retention_pipeline_full.parquet')
        |  WHERE family = 'ann'
        |) ORDER BY family, id1, id2""".stripMargin,
    fixture("ann_index_health", "metric, key"),
    fixture("ann_filtered_search", "q_id, rank"),
    fixture("ann_auto_geometry", "q_id, rank"),
    fixture("dedup_index_health", "metric, key"),
    fixture("embdedup_index_health", "metric, key"),
    fixture("ann_auto_rerank", "q_id, rank"),
    fixture("ann_auto_topk_fixedq", "q_id, rank"),
    fixture("ann_auto_rerank_fixedq", "q_id, rank"),
    fixture("ann_ivfpq_topk_fixedq", "q_id, rank"),
    fixture("ingest_pipeline", "q_id, rank"),
    fixture("ingest_pipeline_policy", "q_id, rank"),
    // the routine-day no-fire twin: frozen-quantizer appends are
    // per-vector and bit-stable, so the un-rebuilt serving is its own
    // committed fixture (the in-gate require(!rebuilt) carries the
    // policy semantics; the fixture carries the serving)
    fixture("ingest_pipeline_nofire", "q_id, rank"),
    // warm fire-day serving: deterministic splits (hash-seeded, confined
    // Lloyd) + frozen-codebook coding are bit-stable; the in-gate
    // requires carry the warm/structural semantics, the fixture the
    // serving, and ann_operating_report the measured recall parity
    fixture("ann_warm_rebuild", "q_id, rank"),
    // rebuilt-serving ≡ fresh-auto-built serving — the rebuild policy's
    // oracle IS the committed auto-geometry fixture
    "ann_rebuild_policy" -> fixtureSql("ann_auto_geometry", "q_id, rank"),
    // quarantine re-routes hot-bucket pairs to a LOSSLESS verifier, so the
    // pair set ≡ the unquarantined run on the index's 80% corpus — the
    // committed full-run fixture under the both-endpoints-standing
    // restriction
    "dedup_quarantine" -> minhashStanding,
    // the budget form relocates pair-finding work (LSH join vs lossless
    // prefix fallback) but never changes the found pair set — same
    // restriction oracle
    "dedup_quarantine_budget" -> minhashStanding,
    // the auto-derived banding resolves to the committed 16×2 at gate
    // scale, so the committed full-run fixture IS the equivalence oracle
    "dedup_auto_banding" -> fixtureSql("minhash_lsh_pairs", "id1, id2"),

    "ann_filtered_exact" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE label = 2),
        |scored AS (
        |  SELECT q_id, c_id,
        |    CASE WHEN list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |           OR list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |      THEN 0.0
        |      ELSE list_sum(list_transform(list_zip(qv, cv),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |           / (SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |              * SQRT(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      END AS cos
        |  FROM c CROSS JOIN q WHERE q_id <> c_id)
        |SELECT q_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS BIGINT) AS rank,
        |       c_id, ROUND(cos, 6) AS cos
        |FROM scored
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) <= 5
        |ORDER BY q_id, rank""".stripMargin,
    // save→load must not change the served ranking: the roundtrip gate's
    // oracle IS the built-index fixture
    "ann_index_roundtrip" -> fixtureSql("ann_ivfpq_topk", "q_id, rank"),

    // filtered recall: the committed filtered-indexed ranking scored
    // against the filtered-exact ranking recomputed from first principles
    "ann_filtered_recall" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE label = 2),
        |scored AS (
        |  SELECT q_id, c_id,
        |    CASE WHEN list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |           OR list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |      THEN 0.0
        |      ELSE list_sum(list_transform(list_zip(qv, cv),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |           / (SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |              * SQRT(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      END AS cos
        |  FROM c CROSS JOIN q WHERE q_id <> c_id),
        |exact AS (
        |  SELECT q_id, c_id FROM scored
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) <= 5)
        |SELECT 'ann_filtered_search' AS method, COUNT(*) AS n_ranked,
        |  CAST(SUM(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST((SUM(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
        |       // (5 * (SELECT COUNT(*) FROM q)) AS BIGINT) AS recall_permille
        |FROM read_parquet('$fixturesDir/ann_filtered_search.parquet') a
        |LEFT JOIN exact e USING (q_id, c_id)""".stripMargin,

    // operating report: recall/MRR/nDCG per tier + filtered recall +
    // index health summary, one long-format integer table
    "ann_operating_report" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT q_id, c_id,
        |    CASE WHEN list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |           OR list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |      THEN 0.0
        |      ELSE list_sum(list_transform(list_zip(qv, cv),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |           / (SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |              * SQRT(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      END AS cos
        |  FROM c CROSS JOIN q WHERE q_id <> c_id),
        |exact AS (
        |  SELECT q_id, c_id FROM scored
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) <= 5),
        |approx AS (
        |  SELECT 'ann_lsh_topk' AS method, q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_lsh_topk.parquet')
        |  UNION ALL SELECT 'ann_ivf_topk', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivf_topk.parquet')
        |  UNION ALL SELECT 'ann_pq_topk', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_pq_topk.parquet')
        |  UNION ALL SELECT 'ann_ivfpq_topk', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivfpq_topk.parquet')
        |  UNION ALL SELECT 'ann_ivfpq_rerank', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivfpq_rerank.parquet')
        |  UNION ALL SELECT 'ann_ivf_topk_p8', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivf_topk_p8.parquet')
        |  UNION ALL SELECT 'ann_ivfpq_rerank_p8', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivfpq_rerank_p8.parquet')
        |  UNION ALL SELECT 'ann_auto_geometry', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_auto_geometry.parquet')
        |  UNION ALL SELECT 'ann_auto_rerank', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_auto_rerank.parquet')
        |  UNION ALL SELECT 'ann_warm_rebuild', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_warm_rebuild.parquet')),
        |perq AS (
        |  SELECT method, a.q_id,
        |    MIN(CASE WHEN e.c_id IS NOT NULL THEN a.rank END) AS first_rel,
        |    SUM(CASE WHEN e.c_id IS NOT NULL THEN
        |      CASE a.rank WHEN 1 THEN 1000000 WHEN 2 THEN 630930 WHEN 3 THEN 500000
        |                  WHEN 4 THEN 430677 WHEN 5 THEN 386853 ELSE 0 END
        |      ELSE 0 END) AS dcg,
        |    SUM(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END) AS hits
        |  FROM approx a LEFT JOIN exact e USING (q_id, c_id)
        |  GROUP BY method, a.q_id),
        |pm AS (
        |  SELECT method,
        |    CAST((SUM(hits) * 1000) // (5 * (SELECT COUNT(*) FROM q)) AS BIGINT) AS recall_permille,
        |    CAST(SUM(COALESCE(1000000 // first_rel, 0)) // (SELECT COUNT(*) FROM q) AS BIGINT) AS mrr_micro,
        |    CAST(SUM((dcg * 1000000) // 2948460) // (SELECT COUNT(*) FROM q) AS BIGINT) AS ndcg_micro
        |  FROM perq GROUP BY method),
        |fscored AS (
        |  SELECT q_id, c_id, cos FROM scored
        |  WHERE c_id IN (SELECT vec_id FROM embeddings WHERE label = 2)),
        |fexact AS (
        |  SELECT q_id, c_id FROM fscored
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) <= 5),
        |frow AS (
        |  SELECT 'ann_filtered_search' AS method, 'filtered_recall_permille' AS metric,
        |    CAST((SUM(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
        |         // (5 * (SELECT COUNT(*) FROM q)) AS BIGINT) AS value
        |  FROM read_parquet('$fixturesDir/ann_filtered_search.parquet') a
        |  LEFT JOIN fexact e USING (q_id, c_id)),
        |rexact AS (
        |  SELECT q_id, c_id FROM scored WHERE cos >= CAST(0.3 AS DOUBLE)),
        |rapprox AS (
        |  SELECT 'ann_range_search' AS method, q_id, c_id
        |    FROM read_parquet('$fixturesDir/ann_range_search.parquet')
        |  UNION ALL SELECT 'ann_range_rerank', q_id, c_id
        |    FROM read_parquet('$fixturesDir/ann_range_rerank.parquet')),
        |rrows AS (
        |  SELECT method, COUNT(*) AS n_found,
        |    SUM(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END) AS n_true
        |  FROM rapprox a LEFT JOIN rexact e USING (q_id, c_id)
        |  GROUP BY method)
        |SELECT method, metric, value FROM (
        |  SELECT method, 'recall_permille' AS metric, recall_permille AS value FROM pm
        |  UNION ALL SELECT method, 'mrr_micro', mrr_micro FROM pm
        |  UNION ALL SELECT method, 'ndcg_micro', ndcg_micro FROM pm
        |  UNION ALL SELECT method, metric, value FROM frow
        |  UNION ALL SELECT method, 'range_found', CAST(n_found AS BIGINT) FROM rrows
        |  UNION ALL SELECT method, 'range_recall_permille',
        |    CAST((n_true * 1000) // (SELECT COUNT(*) FROM rexact) AS BIGINT) FROM rrows
        |  UNION ALL SELECT 'index' AS method, metric, value
        |    FROM read_parquet('$fixturesDir/ann_index_health.parquet')
        |    WHERE metric IN ('imbalance_permille', 'adc_err_micro_avg', 'adc_err_micro_max'))
        |ORDER BY method, metric""".stripMargin,

    "neardup_clusters" -> clustersOracle,

    "source_dup_matrix" ->
      s"""WITH p AS (
        |  SELECT id1, id2 FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')),
        |j AS (
        |  SELECT LEAST(d1.source, d2.source) AS source_a,
        |         GREATEST(d1.source, d2.source) AS source_b
        |  FROM p
        |  JOIN documents d1 ON d1.doc_id = p.id1
        |  JOIN documents d2 ON d2.doc_id = p.id2)
        |SELECT source_a, source_b, COUNT(*) AS n_dup_pairs
        |FROM j GROUP BY source_a, source_b
        |ORDER BY source_a, source_b""".stripMargin,

    "neardup_clusters_star" -> clustersOracle,

    "b1b2_sink_roundtrip" ->
      """WITH ids AS (SELECT CAST(range AS BIGINT) AS i FROM range(50) WHERE range <> 37),
        |px AS (
        |  SELECT i, CAST(p.range AS BIGINT) AS pos,
        |         CAST((i * 131 + (CAST(p.range AS BIGINT) // 32) * 17
        |               + (CAST(p.range AS BIGINT) % 32) * 7) % 4096 AS DOUBLE) AS v
        |  FROM ids, range(1024) p),
        |w AS (SELECT i,
        |  CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(1000 + i % 500 AS DOUBLE) END AS wc,
        |  CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(400 + i % 200 AS DOUBLE) END AS ww
        |  FROM ids),
        |b AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM px GROUP BY i),
        |u AS (SELECT px.i, pos,
        |  CASE WHEN wc IS NULL THEN
        |    LEAST(GREATEST(CAST(FLOOR((v - mn) / GREATEST(mx - mn, 1e-6) * 255.0) AS BIGINT), 0), 255)
        |  ELSE
        |    LEAST(GREATEST(CAST(FLOOR(
        |      (LEAST(GREATEST(v, wc - ww / 2), wc + ww / 2) - (wc - ww / 2))
        |      / GREATEST((wc + ww / 2) - (wc - ww / 2), 1e-6) * 255.0) AS BIGINT), 0), 255)
        |  END AS u8
        |  FROM px JOIN w USING (i) JOIN b USING (i))
        |SELECT printf('img_%06d', i) AS file_name, COUNT(*) AS n_px,
        |  CAST(SUM(u8) AS BIGINT) AS sum_v,
        |  CAST(SUM(pos * u8) AS BIGINT) AS weighted_sum,
        |  CAST(2 AS BIGINT) AS n_meta_rows
        |FROM u GROUP BY i ORDER BY file_name""".stripMargin,

    "a7_single_blob" ->
      """SELECT 'blob_0.png' AS file_name,
        |  CAST(32 AS BIGINT) AS h, CAST(32 AS BIGINT) AS w,
        |  COUNT(*) AS n_px,
        |  CAST(SUM(((CAST(range AS BIGINT) // 32) * 3
        |            + (CAST(range AS BIGINT) % 32) * 7) % 256) AS BIGINT) AS sum_v
        |FROM range(1024)""".stripMargin,

    "a8_schema_load" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'file_name', 'string', false),
        |  (1, 'gcs_uri_raw', 'string', false),
        |  (2, 'gcs_uri_processed', 'string', false),
        |  (3, 'patient_id_hash', 'string', true),
        |  (4, 'study_uid', 'string', true),
        |  (5, 'series_uid', 'string', true),
        |  (6, 'sop_instance_uid', 'string', true),
        |  (7, 'modality', 'string', true),
        |  (8, 'rows', 'bigint', true),
        |  (9, 'cols', 'bigint', true),
        |  (10, 'mean_intensity', 'double', true),
        |  (11, 'std_intensity', 'double', true),
        |  (12, 'window_center', 'double', true),
        |  (13, 'window_width', 'double', true),
        |  (14, 'processed_at', 'timestamp', false))
        |  t(pos, field_name, spark_type, nullable)
        |ORDER BY pos""".stripMargin,

    "unified_loader" ->
      """WITH dcm AS (
        |  SELECT i, (i * 131 + (CAST(p.range AS BIGINT) // 32) * 17
        |             + (CAST(p.range AS BIGINT) % 32) * 7) % 4096 AS v
        |  FROM (SELECT CAST(range AS BIGINT) AS i FROM range(4)), range(1024) p),
        |dcmb AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM dcm GROUP BY i),
        |dcma AS (
        |  SELECT printf('img_%06d.dcm', i) AS file_name, 'dicom' AS format,
        |         CAST(32 AS BIGINT) AS h, CAST(32 AS BIGINT) AS w, COUNT(*) AS n_px,
        |         CAST(SUM(CAST(FLOOR((v - mn) / GREATEST(CAST(mx - mn AS DOUBLE), 1e-6) * 255.0) AS BIGINT)) AS BIGINT) AS sum_v
        |  FROM dcm JOIN dcmb USING (i) GROUP BY i),
        |nii AS (
        |  SELECT id, (14 + (CAST(p.range AS BIGINT) // 8) * 4
        |              + (CAST(p.range AS BIGINT) % 8) * 2 + id * 29) % 256 AS v
        |  FROM (SELECT CAST(range AS BIGINT) AS id FROM range(3)), range(64) p),
        |niib AS (SELECT id, MIN(v) AS mn, MAX(v) AS mx FROM nii GROUP BY id),
        |niia AS (
        |  SELECT printf('vol_%d.nii', id) AS file_name, 'nifti' AS format,
        |         CAST(8 AS BIGINT) AS h, CAST(8 AS BIGINT) AS w, COUNT(*) AS n_px,
        |         CAST(SUM(CAST(FLOOR((v - mn) / GREATEST(CAST(mx - mn AS DOUBLE), 1e-6) * 255.0) AS BIGINT)) AS BIGINT) AS sum_v
        |  FROM nii JOIN niib USING (id) GROUP BY id),
        |pnga AS (
        |  SELECT printf('pic_%d.png', id) AS file_name, 'png' AS format,
        |         CAST(16 AS BIGINT) AS h, CAST(16 AS BIGINT) AS w, COUNT(*) AS n_px,
        |         CAST(SUM(((CAST(p.range AS BIGINT) // 16) * 5
        |                   + (CAST(p.range AS BIGINT) % 16) * 3 + id * 11) % 256) AS BIGINT) AS sum_v
        |  FROM (SELECT CAST(range AS BIGINT) AS id FROM range(3)), range(256) p
        |  GROUP BY id)
        |SELECT * FROM dcma UNION ALL SELECT * FROM niia UNION ALL SELECT * FROM pnga
        |ORDER BY file_name""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(ROUND(CAST(SUM(l_extendedprice * (1.0 - l_discount)) AS DECIMAL(38,4)), 2) AS DOUBLE) AS revenue,
        |  ROUND(AVG(l_quantity), 6) AS avg_qty,
        |  ROUND(AVG(l_extendedprice), 6) AS avg_price,
        |  ROUND(STDDEV_POP(l_quantity), 6) AS std_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "h5_latest_per_user" ->
      """SELECT user_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |         ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS BIGINT) AS rank,
        |  event_id, event_type
        |FROM events WHERE user_id % 10 = 0
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |          ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) <= 3
        |ORDER BY user_id, rank""".stripMargin,

    "sql_graft_functions" ->
      """WITH p AS (
        |  SELECT CAST(range AS BIGINT) // 64 AS y, CAST(range AS BIGINT) % 64 AS x,
        |         CAST((range * 2654435761) % 256 AS BIGINT) AS v
        |  FROM range(4096))
        |SELECT y, x,
        |  CAST(FLOOR((LEAST(GREATEST(CAST(v AS DOUBLE), 60.0), 140.0) - 60.0)
        |             / 80.0 * 255.0) AS BIGINT) AS v_windowed,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_extract_all(CAST(v AS VARCHAR), '.'),
        |        c -> CAST(ord(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 144115188075855859) AS v_fp
        |FROM p ORDER BY y, x""".stripMargin,

    "j2_rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(ROUND(CAST(SUM(l_extendedprice * (1.0 - l_discount)) AS DECIMAL(38,4)), 2) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "h1_topk_avg" ->
      """SELECT user_id, ROUND(AVG(value), 6) AS avg_value, COUNT(*) AS n
        |FROM events GROUP BY user_id
        |ORDER BY AVG(value) DESC, user_id LIMIT 50""".stripMargin,

    "h2_latest_events" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events ORDER BY ts DESC, event_id DESC LIMIT 20""".stripMargin,

    "h3_listing" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE lower(source) LIKE '%1'
        |ORDER BY doc_id LIMIT 50""".stripMargin,

    "c1_metadata_projection" ->
      """SELECT event_id,
        |  'evt_' || event_id || '.dcm' AS file_name,
        |  CASE WHEN CAST(user_id AS VARCHAR) = '' THEN NULL
        |       ELSE substr(sha256(CAST(user_id AS VARCHAR)), 1, 16) END AS patient_id_hash,
        |  NULLIF(props, '') AS props_nn,
        |  NULLIF(event_type, '') AS event_type_nn,
        |  'out/processed/' || 'evt_' || event_id || '.png' AS gcs_uri_processed
        |FROM events ORDER BY event_id""".stripMargin,

    "d1_windowing" ->
      """SELECT event_id, event_type, value,
        |  CAST(FLOOR((LEAST(GREATEST(value, 100.0 - 80.0/2), 100.0 + 80.0/2) - (100.0 - 80.0/2))
        |       / GREATEST(80.0, 1e-6) * 255.0) AS BIGINT) AS v_windowed,
        |  CAST(FLOOR((value - MIN(value) OVER (PARTITION BY event_type))
        |       / GREATEST(MAX(value) OVER (PARTITION BY event_type)
        |                  - MIN(value) OVER (PARTITION BY event_type), 1e-6) * 255.0) AS BIGINT)
        |    AS v_normalized
        |FROM events ORDER BY event_id""".stripMargin,

    "d1_windowing_expr" ->
      """SELECT event_id, value,
        |  CAST(FLOOR((LEAST(GREATEST(value, 100.0 - 80.0/2), 100.0 + 80.0/2) - (100.0 - 80.0/2))
        |       / GREATEST(80.0, 1e-6) * 255.0) AS BIGINT) AS v_windowed
        |FROM events ORDER BY event_id""".stripMargin,

    "d1_windowing_intww" ->
      """SELECT event_id, value,
        |  CAST(FLOOR((LEAST(GREATEST(value, 100.0 - 81.0/2), 100.0 + 81.0/2) - (100.0 - 81.0/2))
        |       / GREATEST(81.0, 1e-6) * 255.0) AS BIGINT) AS v_pipeline,
        |  CAST(FLOOR((LEAST(GREATEST(value, 100.0 - FLOOR(81.0/2)), 100.0 + FLOOR(81.0/2))
        |             - (100.0 - FLOOR(81.0/2)))
        |       / GREATEST(2 * FLOOR(81.0/2), 1e-6) * 255.0) AS BIGINT) AS v_preproc
        |FROM events ORDER BY event_id""".stripMargin,

    "e3_histogram" ->
      """WITH b AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem)
        |SELECT LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 50.0)) AS BIGINT), 49) AS bin,
        |       COUNT(*) AS n
        |FROM lineitem, b
        |WHERE l_extendedprice BETWEEN lo AND hi
        |GROUP BY 1 ORDER BY bin""".stripMargin,

    "e3_histogram_mask" ->
      """WITH img AS (
        |  SELECT (range * 2654435761) % 256 AS v FROM range(4096)),
        |b AS (SELECT v, v >= 160 AS in_mask,
        |        LEAST(CAST(FLOOR(v / (255.0 / 50.0)) AS BIGINT), 49) AS bin
        |      FROM img WHERE v BETWEEN 0 AND 255)
        |SELECT bin, COUNT(*) AS n_full,
        |  CAST(SUM(CASE WHEN in_mask THEN 1 ELSE 0 END) AS BIGINT) AS n_region
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "sql_flagship_readme" ->
      """WITH rec AS (
        |  SELECT 'study_' || (i % 10) AS study_uid,
        |         CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(1000 + i % 500 AS DOUBLE) END AS wc
        |  FROM (SELECT CAST(range AS BIGINT) AS i FROM range(200)))
        |SELECT study_uid, ROUND(AVG(wc), 6) AS avg_wc, COUNT(*) AS n_images
        |FROM rec GROUP BY study_uid
        |ORDER BY avg_wc DESC, study_uid LIMIT 50""".stripMargin,

    "e5_argmax" ->
      """SELECT CAST(range AS BIGINT) // 64 AS y, range % 64 AS x, (range * 2654435761) % 256 AS v
        |FROM range(4096)
        |ORDER BY v DESC, y, x LIMIT 1""".stripMargin,

    "mask_confusion_lineitem" ->
      """WITH m AS (SELECT l_returnflag,
        |    CAST(l_discount > 0.05 AS BIGINT) AS p, CAST(l_tax > 0.03 AS BIGINT) AS g
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  CAST(SUM(p*g) AS BIGINT) AS tp, CAST(SUM((1-p)*g) AS BIGINT) AS fn,
        |  CAST(SUM(p*(1-g)) AS BIGINT) AS fp, CAST(SUM((1-p)*(1-g)) AS BIGINT) AS tn,
        |  CAST(SUM(p) AS BIGINT) AS area_p, CAST(SUM(g) AS BIGINT) AS area_g,
        |  ROUND(CASE WHEN SUM(p)+SUM(g) = 0 THEN 1.0 ELSE 2.0*SUM(p*g)/(SUM(p)+SUM(g)) END, 6) AS dice,
        |  ROUND(CASE WHEN SUM(p*g)+SUM((1-p)*g)+SUM(p*(1-g)) = 0 THEN 1.0
        |        ELSE SUM(p*g)*1.0/(SUM(p*g)+SUM((1-p)*g)+SUM(p*(1-g))) END, 6) AS jaccard,
        |  ROUND(COALESCE(SUM(p*g)*1.0/NULLIF(SUM(p*g)+SUM((1-p)*g), 0), 0.0), 6) AS sensitivity,
        |  ROUND(COALESCE(SUM((1-p)*(1-g))*1.0/NULLIF(SUM((1-p)*(1-g))+SUM(p*(1-g)), 0), 0.0), 6) AS specificity
        |FROM m GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "f1_intersect_join" ->
      """SELECT p.l_returnflag, COUNT(*) AS n_intersect
        |FROM (SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_discount > 0.05) p
        |JOIN (SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_tax > 0.03) g
        |  USING (l_orderkey, l_linenumber)
        |GROUP BY p.l_returnflag ORDER BY p.l_returnflag""".stripMargin,

    "f3_diff_antijoin" ->
      """SELECT p.l_returnflag, COUNT(*) AS n_only_pred
        |FROM (SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_discount > 0.05) p
        |ANTI JOIN (SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_tax > 0.03) g
        |  USING (l_orderkey, l_linenumber)
        |GROUP BY p.l_returnflag ORDER BY p.l_returnflag""".stripMargin,

    "e15_boundary_circularity" ->
      """WITH img AS (
        |  SELECT (CAST(range AS BIGINT) // 64) // 16 AS image_id,
        |         CAST(range AS BIGINT) // 64 AS y, range % 64 AS x,
        |         (range * 2654435761) % 256 AS v
        |  FROM range(4096)),
        |mask AS (SELECT image_id, y, x FROM img WHERE v >= 128),
        |area AS (SELECT image_id, COUNT(*) AS area FROM mask GROUP BY image_id),
        |nbrs AS (
        |  SELECT m.image_id, m.y, m.x, m.y + o.dy AS ny, m.x + o.dx AS nx
        |  FROM mask m CROSS JOIN (VALUES (-1,0),(1,0),(0,-1),(0,1)) AS o(dy, dx)),
        |boundary AS (
        |  SELECT DISTINCT n.image_id, n.y, n.x FROM nbrs n
        |  WHERE NOT EXISTS (SELECT 1 FROM mask m2
        |    WHERE m2.image_id = n.image_id AND m2.y = n.ny AND m2.x = n.nx)),
        |perim AS (SELECT image_id, COUNT(*) AS perimeter_px FROM boundary GROUP BY image_id)
        |SELECT a.image_id, a.area, COALESCE(p.perimeter_px, 0) AS perimeter_px,
        |  ROUND(CASE WHEN COALESCE(p.perimeter_px, 0) > 0
        |    THEN 4 * PI() * a.area / (p.perimeter_px * p.perimeter_px) ELSE 0.0 END, 6) AS circularity
        |FROM area a LEFT JOIN perim p USING (image_id)
        |ORDER BY a.image_id""".stripMargin,

    "e11_tumor_probability" ->
      """WITH img AS (
        |  SELECT (CAST(range AS BIGINT) // 64) // 16 AS image_id,
        |         CAST(range AS BIGINT) // 64 AS y, range % 64 AS x,
        |         (range * 2654435761) % 256 AS v
        |  FROM range(4096)),
        |px AS (SELECT *, v >= 200 AS in_mask FROM img),
        |mask AS (SELECT image_id, y, x FROM px WHERE in_mask),
        |nbrs AS (
        |  SELECT m.image_id, m.y, m.x, m.y + o.dy AS ny, m.x + o.dx AS nx
        |  FROM mask m CROSS JOIN (VALUES (-1,0),(1,0),(0,-1),(0,1)) AS o(dy, dx)),
        |boundary AS (
        |  SELECT DISTINCT n.image_id, n.y, n.x FROM nbrs n
        |  WHERE NOT EXISTS (SELECT 1 FROM mask m2
        |    WHERE m2.image_id = n.image_id AND m2.y = n.ny AND m2.x = n.nx)),
        |perim AS (SELECT image_id, CAST(COUNT(*) AS DOUBLE) AS perimeter FROM boundary GROUP BY image_id),
        |agg AS (
        |  SELECT px.image_id,
        |    CAST(SUM(CAST(in_mask AS BIGINT)) AS BIGINT) AS tumor_area,
        |    COUNT(*) AS n_pixels,
        |    COALESCE(AVG(CASE WHEN in_mask THEN CAST(v AS DOUBLE) END), 0.0) AS tumor_mean,
        |    AVG(CASE WHEN NOT in_mask THEN CAST(v AS DOUBLE) END) AS non_tumor_mean,
        |    COALESCE(ANY_VALUE(p.perimeter), 0.0) AS perimeter
        |  FROM px LEFT JOIN perim p ON px.image_id = p.image_id
        |  GROUP BY px.image_id)
        |SELECT image_id, tumor_area, n_pixels,
        |  ROUND(tumor_mean, 6) AS tumor_mean,
        |  ROUND(non_tumor_mean, 6) AS non_tumor_mean,
        |  ROUND(tumor_mean / (non_tumor_mean + 1e-6), 6) AS contrast_ratio,
        |  ROUND(tumor_area * 1.0 / n_pixels, 6) AS size_ratio,
        |  ROUND(4 * PI() * tumor_area / (perimeter * perimeter + 1e-6), 6) AS compactness,
        |  ROUND(CASE WHEN tumor_area = 0 THEN 0.0 ELSE LEAST(1.0,
        |    0.4 * LEAST(tumor_mean / (non_tumor_mean + 1e-6) / 2.0, 1.0) +
        |    0.3 * GREATEST(0.0, 1.0 - ABS(tumor_area * 1.0 / n_pixels - 0.05) / 0.1) +
        |    0.3 * LEAST(4 * PI() * tumor_area / (perimeter * perimeter + 1e-6), 1.0)) END, 6)
        |    AS probability
        |FROM agg ORDER BY image_id""".stripMargin,

    "e14_region_ellipse" ->
      """WITH mask AS (
        |  SELECT (CAST(range AS BIGINT) // 64) // 16 AS image_id,
        |         CAST(range AS BIGINT) // 64 AS y, range % 64 AS x
        |  FROM range(4096) WHERE (range * 2654435761) % 256 >= 128),
        |m AS (
        |  SELECT image_id,
        |    CAST(COUNT(*) AS DOUBLE) AS area,
        |    AVG(CAST(y AS DOUBLE)) AS cy, AVG(CAST(x AS DOUBLE)) AS cx,
        |    COVAR_POP(y, y) + 1.0/12.0 AS m20,
        |    COVAR_POP(x, x) + 1.0/12.0 AS m02,
        |    COVAR_POP(y, x) AS mu11
        |  FROM mask GROUP BY image_id),
        |e AS (
        |  SELECT *, SQRT(POW(m20 - m02, 2) + 4.0 * POW(mu11, 2)) AS common FROM m)
        |SELECT image_id, area, ROUND(cy, 6) AS cy, ROUND(cx, 6) AS cx,
        |  ROUND((m20 + m02 + common) / 2.0, 6) AS l1,
        |  ROUND((m20 + m02 - common) / 2.0, 6) AS l2,
        |  ROUND(4.0 * SQRT((m20 + m02 + common) / 2.0), 6) AS major_axis_length,
        |  ROUND(4.0 * SQRT(GREATEST((m20 + m02 - common) / 2.0, 0.0)), 6) AS minor_axis_length,
        |  ROUND(CASE WHEN (m20 + m02 + common) / 2.0 > 0
        |    THEN SQRT(1.0 - GREATEST((m20 + m02 - common) / 2.0, 0.0) / ((m20 + m02 + common) / 2.0))
        |    ELSE 0.0 END, 6) AS eccentricity
        |FROM e ORDER BY image_id""".stripMargin,

    "d4_grayscale" ->
      """SELECT CAST(range AS BIGINT) AS id,
        |  range % 256 AS r, (range * 3) % 256 AS g, (range * 5) % 256 AS b,
        |  CAST(ROUND((range % 256) * CAST(0.299 AS DOUBLE) + ((range * 3) % 256) * CAST(0.587 AS DOUBLE)
        |             + ((range * 5) % 256) * CAST(0.114 AS DOUBLE), 0) AS BIGINT) AS gray
        |FROM range(4096) ORDER BY id""".stripMargin,

    "d10_overlay" ->
      """WITH img AS (
        |  SELECT CAST(range AS BIGINT) // 64 AS y, range % 64 AS x,
        |         (range * 2654435761) % 256 AS v
        |  FROM range(4096)),
        |mask AS (SELECT y, x, 1 AS m FROM img WHERE v >= 220)
        |SELECT i.y, i.x, i.v,
        |  CASE WHEN mk.m IS NOT NULL
        |    THEN CAST(LEAST(ROUND(CAST(i.v AS DOUBLE) + 0.5 * 255.0, 0), 255.0) AS BIGINT)
        |    ELSE i.v END AS v_overlay,
        |  CASE WHEN mk.m IS NOT NULL THEN 255 ELSE 0 END AS mask255
        |FROM img i LEFT JOIN mask mk ON i.y = mk.y AND i.x = mk.x
        |ORDER BY i.y, i.x""".stripMargin,

    "j1_revenue_by_nation" ->
      """SELECT r.r_name, n.n_name,
        |  CAST(ROUND(CAST(SUM(l.l_extendedprice * (1.0 - l.l_discount)) AS DECIMAL(38,4)), 2) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, n.n_name
        |ORDER BY r.r_name, n.n_name""".stripMargin,

    "dedup_exact" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |        '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT doc_id, fp FROM fp
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "line_dedup" ->
      """WITH l AS (
        |  SELECT doc_id % 50 AS doc_id, doc_id // 50 AS line_no, text AS line
        |  FROM documents),
        |c AS (SELECT line, COUNT(*) AS lc FROM l GROUP BY line),
        |j AS (SELECT doc_id, line_no, line, (lc >= 2) AS dup FROM l JOIN c USING (line))
        |SELECT doc_id, COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  md5(COALESCE(string_agg(CASE WHEN NOT dup THEN line END, chr(10) ORDER BY line_no), ''))
        |    AS cleaned_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "c4_filters" ->
      """WITH t AS (
        |  SELECT doc_id, text, regexp_extract_all(text, '\S+') AS toks FROM documents),
        |r AS (SELECT doc_id,
        |  (len(toks) < 5) AS too_short,
        |  NOT regexp_matches(TRIM(text), '[.!?]["'')\]]*$') AS no_terminal_punct,
        |  contains(lower(text), 'lorem ipsum') AS has_lorem,
        |  contains(text, '{') AS has_curly,
        |  ((CASE WHEN len(toks) = 0 THEN 0.0
        |     ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
        |   END) > 10.0) AS too_long_words
        |  FROM t)
        |SELECT doc_id, too_short, no_terminal_punct, has_lorem, has_curly, too_long_words,
        |  (NOT too_short AND NOT no_terminal_punct AND NOT has_lorem
        |   AND NOT has_curly AND NOT too_long_words) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    "pii_redact" ->
      """WITH aug AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 7 = 0
        |    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 11 = 0
        |    THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |  CASE WHEN doc_id % 13 = 0
        |    THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)
        |    ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS redacted_md5
        |FROM aug ORDER BY doc_id""".stripMargin,

    "text_analysis" ->
      """SELECT doc_id,
        |  LENGTH(regexp_extract_all(text, '\S+')) AS n_tokens,
        |  LENGTH(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish_tokens,
        |  LENGTH(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS n_punct,
        |  ROUND(CASE WHEN LENGTH(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |    ELSE CAST(list_sum(list_transform(regexp_extract_all(text, '\S+'), t -> LENGTH(t))) AS DOUBLE)
        |         / LENGTH(regexp_extract_all(text, '\S+')) END, 6) AS mean_token_len,
        |  ROUND(CASE WHEN LENGTH(regexp_extract_all(LOWER(text), '\S+')) = 0 THEN 0.0
        |    ELSE CAST(LENGTH(list_filter(regexp_extract_all(LOWER(text), '\S+'),
        |           t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'))) AS DOUBLE)
        |         / LENGTH(regexp_extract_all(LOWER(text), '\S+')) END, 6) AS stopword_ratio,
        |  ROUND(
        |    LEAST(LENGTH(regexp_extract_all(text, '\S+')) / 100.0, 1.0) * 0.4 +
        |    (1.0 - LEAST((CASE WHEN LENGTH(text) = 0 THEN 0.0
        |       ELSE CAST(LENGTH(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / LENGTH(text) END) * 5.0, 1.0)) * 0.3 +
        |    LEAST((CASE WHEN LENGTH(regexp_extract_all(LOWER(text), '\S+')) = 0 THEN 0.0
        |    ELSE CAST(LENGTH(list_filter(regexp_extract_all(LOWER(text), '\S+'),
        |           t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'))) AS DOUBLE)
        |         / LENGTH(regexp_extract_all(LOWER(text), '\S+')) END) * 4.0, 1.0) * 0.3, 6) AS quality,
        |  md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g'))) AS fp,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        regexp_extract_all(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |            '\s+', ' ', 'g')), '.'),
        |        c -> CAST(ord(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 144115188075855859) AS rolling_fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "corpus_curation" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    LENGTH(regexp_extract_all(text, '\S+')) AS n_tokens,
        |    ROUND(
        |      LEAST(LENGTH(regexp_extract_all(text, '\S+')) / 100.0, 1.0) * 0.4 +
        |      (1.0 - LEAST((CASE WHEN LENGTH(text) = 0 THEN 0.0
        |         ELSE CAST(LENGTH(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / LENGTH(text) END) * 5.0, 1.0)) * 0.3 +
        |      LEAST((CASE WHEN LENGTH(regexp_extract_all(LOWER(text), '\S+')) = 0 THEN 0.0
        |      ELSE CAST(LENGTH(list_filter(regexp_extract_all(LOWER(text), '\S+'),
        |             t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'))) AS DOUBLE)
        |           / LENGTH(regexp_extract_all(LOWER(text), '\S+')) END) * 4.0, 1.0) * 0.3, 6) AS quality,
        |    md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |        '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |tl AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
        |sc AS (SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','den','von','zu','mit','ist','des'], x))) AS DOUBLE) AS de,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','it','for','with'], x))) AS DOUBLE) AS en,
        |  CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','los','del','se','las'], x))) AS DOUBLE) AS es,
        |  CAST(len(list_filter(toks, x -> list_contains(['le','la','de','et','les','des','en','un','du','une'], x))) AS DOUBLE) AS fr,
        |  CAST(len(list_filter(toks, x -> list_contains(['o','a','de','que','e','do','da','em','um','para'], x))) AS DOUBLE) AS pt
        |  FROM tl),
        |l AS (SELECT doc_id,
        |  CASE WHEN GREATEST(de, en, es, fr, pt) <= 0 THEN 'und'
        |       WHEN de = GREATEST(de, en, es, fr, pt) THEN 'de'
        |       WHEN en = GREATEST(de, en, es, fr, pt) THEN 'en'
        |       WHEN es = GREATEST(de, en, es, fr, pt) THEN 'es'
        |       WHEN fr = GREATEST(de, en, es, fr, pt) THEN 'fr'
        |       ELSE 'pt' END AS lang_pred
        |  FROM sc),
        |canon AS (SELECT fp, MIN(doc_id) AS doc_id FROM t GROUP BY fp),
        |kept AS (SELECT t.* FROM t JOIN canon USING (fp, doc_id) WHERE quality >= 0.5)
        |SELECT l.lang_pred, COUNT(*) AS n_docs,
        |  ROUND(AVG(k.quality), 6) AS avg_quality,
        |  CAST(SUM(k.n_tokens) AS BIGINT) AS total_tokens
        |FROM kept k JOIN l ON k.doc_id = l.doc_id
        |GROUP BY l.lang_pred ORDER BY l.lang_pred""".stripMargin,

    "quality_quantiles" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    LENGTH(regexp_extract_all(text, '\S+')) AS n_tokens,
        |    ROUND(
        |      LEAST(LENGTH(regexp_extract_all(text, '\S+')) / 100.0, 1.0) * 0.4 +
        |      (1.0 - LEAST((CASE WHEN LENGTH(text) = 0 THEN 0.0
        |         ELSE CAST(LENGTH(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / LENGTH(text) END) * 5.0, 1.0)) * 0.3 +
        |      LEAST((CASE WHEN LENGTH(regexp_extract_all(LOWER(text), '\S+')) = 0 THEN 0.0
        |      ELSE CAST(LENGTH(list_filter(regexp_extract_all(LOWER(text), '\S+'),
        |             t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'))) AS DOUBLE)
        |           / LENGTH(regexp_extract_all(LOWER(text), '\S+')) END) * 4.0, 1.0) * 0.3, 6) AS quality
        |  FROM documents),
        |tl AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
        |sc AS (SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','den','von','zu','mit','ist','des'], x))) AS DOUBLE) AS de,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','it','for','with'], x))) AS DOUBLE) AS en,
        |  CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','los','del','se','las'], x))) AS DOUBLE) AS es,
        |  CAST(len(list_filter(toks, x -> list_contains(['le','la','de','et','les','des','en','un','du','une'], x))) AS DOUBLE) AS fr,
        |  CAST(len(list_filter(toks, x -> list_contains(['o','a','de','que','e','do','da','em','um','para'], x))) AS DOUBLE) AS pt
        |  FROM tl),
        |l AS (SELECT doc_id,
        |  CASE WHEN GREATEST(de, en, es, fr, pt) <= 0 THEN 'und'
        |       WHEN de = GREATEST(de, en, es, fr, pt) THEN 'de'
        |       WHEN en = GREATEST(de, en, es, fr, pt) THEN 'en'
        |       WHEN es = GREATEST(de, en, es, fr, pt) THEN 'es'
        |       WHEN fr = GREATEST(de, en, es, fr, pt) THEN 'fr'
        |       ELSE 'pt' END AS lang_pred
        |  FROM sc),
        |j AS (SELECT l.lang_pred, t.quality, t.n_tokens FROM t JOIN l USING (doc_id))
        |SELECT lang_pred, COUNT(*) AS n_docs,
        |  ROUND(quantile_cont(quality, 0.25), 6) AS q25,
        |  ROUND(quantile_cont(quality, 0.5), 6) AS q50,
        |  ROUND(quantile_cont(quality, 0.9), 6) AS q90,
        |  ROUND(quantile_cont(CAST(n_tokens AS DOUBLE), 0.5), 6) AS median_tokens
        |FROM j GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,

    "lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','den','von','zu','mit','ist','des'], x))) AS DOUBLE) AS de,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','it','for','with'], x))) AS DOUBLE) AS en,
        |  CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','los','del','se','las'], x))) AS DOUBLE) AS es,
        |  CAST(len(list_filter(toks, x -> list_contains(['le','la','de','et','les','des','en','un','du','une'], x))) AS DOUBLE) AS fr,
        |  CAST(len(list_filter(toks, x -> list_contains(['o','a','de','que','e','do','da','em','um','para'], x))) AS DOUBLE) AS pt
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN GREATEST(de, en, es, fr, pt) <= 0 THEN 'und'
        |       WHEN de = GREATEST(de, en, es, fr, pt) THEN 'de'
        |       WHEN en = GREATEST(de, en, es, fr, pt) THEN 'en'
        |       WHEN es = GREATEST(de, en, es, fr, pt) THEN 'es'
        |       WHEN fr = GREATEST(de, en, es, fr, pt) THEN 'fr'
        |       ELSE 'pt' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "ann_cosine_topk" -> cosineTopKOracle,

    "ann_recall_report" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT q_id, c_id,
        |    CASE WHEN list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |           OR list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |      THEN 0.0
        |      ELSE list_sum(list_transform(list_zip(qv, cv),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |           / (SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |              * SQRT(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      END AS cos
        |  FROM c CROSS JOIN q WHERE q_id <> c_id),
        |exact AS (
        |  SELECT q_id, c_id FROM scored
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) <= 5),
        |approx AS (
        |  SELECT 'ann_lsh_topk' AS method, q_id, c_id
        |    FROM read_parquet('$fixturesDir/ann_lsh_topk.parquet')
        |  UNION ALL SELECT 'ann_ivf_topk', q_id, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivf_topk.parquet')
        |  UNION ALL SELECT 'ann_pq_topk', q_id, c_id
        |    FROM read_parquet('$fixturesDir/ann_pq_topk.parquet')
        |  UNION ALL SELECT 'ann_ivfpq_topk', q_id, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivfpq_topk.parquet')
        |  UNION ALL SELECT 'ann_ivfpq_rerank', q_id, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivfpq_rerank.parquet')
        |  UNION ALL SELECT 'ann_ivf_topk_p8', q_id, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivf_topk_p8.parquet')
        |  UNION ALL SELECT 'ann_ivfpq_rerank_p8', q_id, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivfpq_rerank_p8.parquet'))
        |SELECT method, COUNT(*) AS n_ranked,
        |  CAST(SUM(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST((SUM(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
        |       // (5 * (SELECT COUNT(*) FROM q)) AS BIGINT) AS recall_permille
        |FROM approx a LEFT JOIN exact e USING (q_id, c_id)
        |GROUP BY method ORDER BY method""".stripMargin,

    // the exact range recomputed in DuckDB itself (same cosine as the
    // ann_range_exact oracle) — an independent check that the range
    // tiers admit no false pairs (n_true = n_found) per tier
    "ann_range_recall" ->
      s"""WITH exact AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id
        |    AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) >= CAST(0.3 AS DOUBLE)),
        |approx AS (
        |  SELECT 'ann_range_search' AS method, q_id, c_id
        |    FROM read_parquet('$fixturesDir/ann_range_search.parquet')
        |  UNION ALL SELECT 'ann_range_rerank', q_id, c_id
        |    FROM read_parquet('$fixturesDir/ann_range_rerank.parquet'))
        |SELECT method, COUNT(*) AS n_found,
        |  CAST(SUM(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |  (SELECT COUNT(*) FROM exact) AS n_exact,
        |  CAST((SUM(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
        |       // (SELECT COUNT(*) FROM exact) AS BIGINT) AS recall_permille
        |FROM approx a LEFT JOIN exact e USING (q_id, c_id)
        |GROUP BY method ORDER BY method""".stripMargin,

    "ann_ranking_metrics" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT q_id, c_id,
        |    CASE WHEN list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |           OR list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |      THEN 0.0
        |      ELSE list_sum(list_transform(list_zip(qv, cv),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |           / (SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |              * SQRT(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      END AS cos
        |  FROM c CROSS JOIN q WHERE q_id <> c_id),
        |exact AS (
        |  SELECT q_id, c_id FROM scored
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) <= 5),
        |approx AS (
        |  SELECT 'ann_lsh_topk' AS method, q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_lsh_topk.parquet')
        |  UNION ALL SELECT 'ann_ivf_topk', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivf_topk.parquet')
        |  UNION ALL SELECT 'ann_pq_topk', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_pq_topk.parquet')
        |  UNION ALL SELECT 'ann_ivfpq_topk', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivfpq_topk.parquet')
        |  UNION ALL SELECT 'ann_ivfpq_rerank', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivfpq_rerank.parquet')
        |  UNION ALL SELECT 'ann_ivf_topk_p8', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivf_topk_p8.parquet')
        |  UNION ALL SELECT 'ann_ivfpq_rerank_p8', q_id, rank, c_id
        |    FROM read_parquet('$fixturesDir/ann_ivfpq_rerank_p8.parquet')),
        |perq AS (
        |  SELECT method, a.q_id,
        |    MIN(CASE WHEN e.c_id IS NOT NULL THEN a.rank END) AS first_rel,
        |    SUM(CASE WHEN e.c_id IS NOT NULL THEN
        |      CASE a.rank WHEN 1 THEN 1000000 WHEN 2 THEN 630930 WHEN 3 THEN 500000
        |                  WHEN 4 THEN 430677 WHEN 5 THEN 386853 ELSE 0 END
        |      ELSE 0 END) AS dcg
        |  FROM approx a LEFT JOIN exact e USING (q_id, c_id)
        |  GROUP BY method, a.q_id)
        |SELECT method,
        |  CAST(SUM(COALESCE(1000000 // first_rel, 0)) // (SELECT COUNT(*) FROM q) AS BIGINT) AS mrr_micro,
        |  CAST(SUM((dcg * 1000000) // 2948460) // (SELECT COUNT(*) FROM q) AS BIGINT) AS ndcg_micro
        |FROM perq GROUP BY method ORDER BY method""".stripMargin,

    "ann_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS c_id, label AS c_label, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT q_id, c_id, c_label,
        |    CASE WHEN list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |           OR list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |      THEN 0.0
        |      ELSE list_sum(list_transform(list_zip(qv, cv),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |           / (SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |              * SQRT(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      END AS cos
        |  FROM c CROSS JOIN q WHERE q_id <> c_id AND q_label <> c_label)
        |SELECT q_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS BIGINT) AS rank,
        |       c_id, c_label, ROUND(cos, 6) AS cos
        |FROM scored
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // identical independent oracle: the plan-node ranking must reproduce
    // the window-rank semantics exactly (incl. cos-desc / id-asc ties)
    "ann_cosine_topk_native" -> cosineTopKOracle,

    "s1_running_anomalies" ->
      """WITH w AS (
        |  SELECT user_id, event_id, value,
        |    AVG(value) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_mean
        |  FROM events)
        |SELECT user_id, event_id, value,
        |  COALESCE(value > 3.0 * prior_mean, false) AS anomalous
        |FROM w ORDER BY user_id, event_id""".stripMargin,

    "w1_tumbling_window" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS w_start, event_type,
        |  COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "char_shingles" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM documents WHERE doc_id % 10 = 0),
        |t AS (SELECT doc_id, norm, regexp_extract_all(norm, '\S+') AS toks FROM d)
        |SELECT doc_id,
        |  CAST(CASE WHEN LENGTH(norm) < 5 THEN (CASE WHEN LENGTH(norm) > 0 THEN 1 ELSE 0 END)
        |       ELSE len(list_distinct(list_transform(range(LENGTH(norm) - 4),
        |              i -> norm[i+1:i+5]))) END AS BIGINT) AS n_char_shingles,
        |  CAST(CASE WHEN len(toks) < 3 THEN (CASE WHEN len(toks) > 0 THEN 1 ELSE 0 END)
        |       ELSE len(list_distinct(list_transform(range(len(toks) - 2),
        |              i -> array_to_string(toks[i+1:i+3], ' ')))) END AS BIGINT) AS n_word_shingles
        |FROM t ORDER BY doc_id""".stripMargin,

    "char_shingles_unicode" ->
      """WITH d AS (
        |  SELECT * FROM (VALUES
        |    (1, '深度学习模型的训练数据质量'),
        |    (2, '深度学习模型的预训练语料库'),
        |    (3, 'ข้อมูลการฝึกอบรมโมเดลภาษา'),
        |    (4, 'Qualité des données d''entraînement: été, Çà!'),
        |    (5, 'Обучение языковых моделей'),
        |    (6, 'MIXED text 混合テキスト 123')) AS t(doc_id, text)),
        |n AS (SELECT doc_id,
        |  TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^\p{L}\p{M}\p{N}\s]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS norm
        |  FROM d)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(LENGTH(norm) AS BIGINT) AS norm_len,
        |  CAST(CASE WHEN LENGTH(norm) < 3 THEN (CASE WHEN LENGTH(norm) > 0 THEN 1 ELSE 0 END)
        |       ELSE len(list_distinct(list_transform(range(LENGTH(norm) - 2),
        |              i -> norm[i+1:i+3]))) END AS BIGINT) AS n_char_shingles
        |FROM n ORDER BY doc_id""".stripMargin,

    "boilerplate_ngrams" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |           (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
        |                 ELSE CAST([] AS VARCHAR[]) END)
        |         ELSE list_distinct(list_transform(range(len(toks) - 2),
        |                i -> array_to_string(toks[i+1:i+3], ' '))) END AS sh
        |  FROM d),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM sh)
        |SELECT shingle, COUNT(*) AS df FROM e
        |GROUP BY shingle ORDER BY df DESC, shingle LIMIT 20""".stripMargin,

    "jaccard_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 5000),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |           (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
        |                 ELSE CAST([] AS VARCHAR[]) END)
        |         ELSE list_distinct(list_transform(range(len(toks) - 2),
        |                i -> array_to_string(toks[i+1:i+3], ' '))) END AS sh
        |  FROM d),
        |e AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM e GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
        |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT s1.doc_id AS id1, s2.doc_id AS id2, s1.sz AS sz1, s2.sz AS sz2
        |  FROM sz s1 JOIN sz s2 ON s1.doc_id < s2.doc_id)
        |SELECT p.id1, p.id2, p.sz1, p.sz2, COALESCE(i.inter, 0) AS inter,
        |  ROUND(COALESCE(i.inter, 0)
        |        / CAST(p.sz1 + p.sz2 - COALESCE(i.inter, 0) AS DOUBLE), 6) AS jaccard
        |FROM pairs p LEFT JOIN inter i USING (id1, id2)
        |ORDER BY id1, id2""".stripMargin,

    "corpus_split" ->
      """WITH b AS (
        |  SELECT source, text,
        |    (list_reduce(
        |       list_prepend(CAST(0 AS BIGINT),
        |         list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '.'),
        |           c -> CAST(ord(c) AS BIGINT))),
        |       (acc, c) -> (acc * 31 + c) % 144115188075855859) % 100) AS bucket
        |  FROM documents),
        |s AS (SELECT source,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'validation' ELSE 'test' END AS split,
        |  LENGTH(regexp_extract_all(text, '\S+')) AS n_tokens FROM b)
        |SELECT source, split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin,

    "skew_salted_agg" ->
      """SELECT event_type,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "f5_asof_join" ->
      """WITH vkeep AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS event_id
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, CAST(ts AS TIMESTAMP)),
        |v AS (SELECT k.user_id, k.ts, k.event_id, e.value
        |      FROM vkeep k JOIN events e ON e.event_id = k.event_id),
        |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, ROUND(p.value, 6) AS purchase_value,
        |       v.event_id AS view_event_id, ROUND(v.value, 6) AS view_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin,

    "w4_interval_join" ->
      """SELECT c.event_id AS click_id, c.user_id AS user_id, v.event_id AS view_id,
        |  ROUND(v.value, 6) AS view_value
        |FROM events c JOIN events v
        |  ON c.event_type = 'click' AND v.event_type = 'view'
        | AND c.user_id = v.user_id
        | AND CAST(v.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP) - INTERVAL 6 HOUR
        | AND CAST(v.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
        |ORDER BY click_id, view_id""".stripMargin,

    // the clean table, aggregated directly — dedup must exactly undo the
    // injected redelivery
    "w3_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n, MAX(event_id) AS max_event_id,
        |  ROUND(MIN(value), 6) AS min_value, ROUND(MAX(value), 6) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "a3_volume_slice" ->
      """WITH vol AS (
        |  SELECT CAST(range AS BIGINT) // 256 AS z,
        |         (CAST(range AS BIGINT) % 256) // 16 AS y,
        |         CAST(range AS BIGINT) % 16 AS x,
        |         ((CAST(range AS BIGINT) // 256) * 7
        |          + ((CAST(range AS BIGINT) % 256) // 16) * 4
        |          + (CAST(range AS BIGINT) % 16) * 2) % 256 AS v
        |  FROM range(2048))
        |SELECT z, COUNT(*) AS n_pixels, ROUND(AVG(v), 6) AS mean_v,
        |       MIN(v) AS min_v, MAX(v) AS max_v
        |FROM vol WHERE z = 4 GROUP BY z ORDER BY z""".stripMargin,

    "m3_pipeline_dicom_files" ->
      """SELECT printf('img_%06d.dcm', i) AS file_name,
        |  printf('out/processed/img_%06d.png', i) AS gcs_uri_processed,
        |  CASE WHEN i % 11 = 0 THEN NULL
        |       ELSE substr(sha256('patient_' || (i % 50)), 1, 16) END AS patient_id_hash,
        |  'study_' || (i % 10) AS study_uid,
        |  'series_' || (i % 25) AS series_uid,
        |  'sop_' || i AS sop_instance_uid,
        |  CASE WHEN i % 3 = 0 THEN 'CT' ELSE 'MR' END AS modality,
        |  CAST(32 AS BIGINT) AS "rows", CAST(32 AS BIGINT) AS cols,
        |  CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(1000 + i % 500 AS DOUBLE) END AS window_center,
        |  CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(400 + i % 200 AS DOUBLE) END AS window_width
        |FROM (SELECT CAST(range AS BIGINT) AS i FROM range(200))
        |ORDER BY file_name""".stripMargin,

    "m3_pipeline_windowed_stats" ->
      """WITH ids AS (SELECT CAST(range AS BIGINT) AS i FROM range(200)),
        |px AS (
        |  SELECT i, CAST((i * 131 + (CAST(p.range AS BIGINT) // 32) * 17
        |                  + (CAST(p.range AS BIGINT) % 32) * 7) % 4096 AS DOUBLE) AS v
        |  FROM ids, range(1024) p),
        |w AS (SELECT i,
        |  CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(1000 + i % 500 AS DOUBLE) END AS wc,
        |  CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(400 + i % 200 AS DOUBLE) END AS ww
        |  FROM ids),
        |b AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM px GROUP BY i),
        |u AS (SELECT px.i,
        |  CASE WHEN wc IS NULL THEN
        |    LEAST(GREATEST(CAST(FLOOR((v - mn) / GREATEST(mx - mn, 1e-6) * 255.0) AS BIGINT), 0), 255)
        |  ELSE
        |    LEAST(GREATEST(CAST(FLOOR(
        |      (LEAST(GREATEST(v, wc - ww / 2), wc + ww / 2) - (wc - ww / 2))
        |      / GREATEST((wc + ww / 2) - (wc - ww / 2), 1e-6) * 255.0) AS BIGINT), 0), 255)
        |  END AS u8
        |  FROM px JOIN w USING (i) JOIN b USING (i))
        |SELECT printf('img_%06d.dcm', i) AS file_name, COUNT(*) AS n_px,
        |  ROUND(AVG(u8), 6) AS mean_windowed,
        |  ROUND(SQRT(AVG(u8 * u8) - AVG(u8) * AVG(u8)), 6) AS std_windowed
        |FROM u GROUP BY i ORDER BY file_name""".stripMargin,

    "d14_morphology" ->
      """WITH img AS (
        |  SELECT CAST(range AS BIGINT) // 64 AS y, CAST(range AS BIGINT) % 64 AS x,
        |         CASE WHEN ((CAST(range AS BIGINT) // 64) * 4
        |                    + (CAST(range AS BIGINT) % 64) * 2) % 256 >= 128
        |              THEN 1 ELSE 0 END AS v
        |  FROM range(4096)),
        |e3 AS (SELECT c.y, c.x, MIN(n.v) AS v FROM img c JOIN img n
        |       ON n.y BETWEEN c.y - 1 AND c.y + 1 AND n.x BETWEEN c.x - 1 AND c.x + 1
        |       GROUP BY c.y, c.x),
        |o3 AS (SELECT c.y, c.x, MAX(n.v) AS v FROM e3 c JOIN e3 n
        |       ON n.y BETWEEN c.y - 1 AND c.y + 1 AND n.x BETWEEN c.x - 1 AND c.x + 1
        |       GROUP BY c.y, c.x),
        |d5 AS (SELECT c.y, c.x, MAX(n.v) AS v FROM o3 c JOIN o3 n
        |       ON n.y BETWEEN c.y - 2 AND c.y + 2 AND n.x BETWEEN c.x - 2 AND c.x + 2
        |       GROUP BY c.y, c.x),
        |c5 AS (SELECT c.y, c.x, MIN(n.v) AS v FROM d5 c JOIN d5 n
        |       ON n.y BETWEEN c.y - 2 AND c.y + 2 AND n.x BETWEEN c.x - 2 AND c.x + 2
        |       GROUP BY c.y, c.x)
        |SELECT CAST(0 AS BIGINT) AS image_id, y, x FROM c5 WHERE v = 1
        |ORDER BY y, x""".stripMargin,

    "f2_union" ->
      """SELECT l_returnflag, COUNT(*) AS n_union FROM (
        |  SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_discount > 0.05
        |  UNION
        |  SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_tax > 0.03)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "i1_distinct_exact" ->
      """SELECT source,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs_exact,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_exact
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "d8_png_roundtrip" ->
      """WITH px AS (
        |  SELECT CAST(i.range AS BIGINT) AS image_id, CAST(p.range AS BIGINT) AS pos,
        |         (p.range * 2654435761 + i.range * 977) % 256 AS v
        |  FROM range(8) i, range(1024) p)
        |SELECT image_id, COUNT(*) AS n_px,
        |  CAST(SUM(v) AS BIGINT) AS sum_v,
        |  CAST(SUM(pos * v) AS BIGINT) AS weighted_sum
        |FROM px GROUP BY image_id ORDER BY image_id""".stripMargin,

    "e13_bf_edges" ->
      """WITH img AS (
        |  SELECT CAST(range AS BIGINT) // 32 AS y, CAST(range AS BIGINT) % 32 AS x,
        |         CASE WHEN ((CAST(range AS BIGINT) // 32) * 4
        |                    + (CAST(range AS BIGINT) % 32) * 2) % 256 >= 128
        |              THEN 1 ELSE 0 END AS v
        |  FROM range(1024)),
        |taps AS (SELECT * FROM (VALUES
        |  (-1, -1, -1, -1), (-1, 0, 0, -2), (-1, 1, 1, -1),
        |  ( 0, -1, -2,  0), ( 0, 1, 2,  0),
        |  ( 1, -1, -1,  1), ( 1, 0, 0,  2), ( 1, 1, 1,  1)) t(dy, dx, kx, ky)),
        |g AS (
        |  SELECT c.y, c.x, SUM(t.kx * n.v) AS gx, SUM(t.ky * n.v) AS gy
        |  FROM img c CROSS JOIN taps t JOIN img n
        |    ON n.y = CASE WHEN c.y + t.dy < 0 THEN -(c.y + t.dy)
        |                  WHEN c.y + t.dy > 31 THEN 62 - (c.y + t.dy)
        |                  ELSE c.y + t.dy END
        |   AND n.x = CASE WHEN c.x + t.dx < 0 THEN -(c.x + t.dx)
        |                  WHEN c.x + t.dx > 31 THEN 62 - (c.x + t.dx)
        |                  ELSE c.x + t.dx END
        |  GROUP BY c.y, c.x),
        |mag AS (SELECT y, x, SQRT(CAST(gx * gx + gy * gy AS DOUBLE)) AS m FROM g),
        |mx AS (SELECT GREATEST(MAX(m), 1e-6) AS mxv FROM mag),
        |u8 AS (SELECT LEAST(CAST(FLOOR(m / mxv * 255.0) AS BIGINT), 255) AS e FROM mag, mx)
        |SELECT CAST(0 AS BIGINT) AS image_id,
        |  ROUND(SUM(e) / (1024.0 * 255.0), 6) AS bf_fallback
        |FROM u8""".stripMargin,

    "m3_pipeline_metadata" ->
      """SELECT printf('img_%06d.dcm', i) AS file_name,
        |  printf('raw/img_%06d.dcm', i) AS gcs_uri_raw,
        |  printf('out/processed/img_%06d.png', i) AS gcs_uri_processed,
        |  CASE WHEN i % 11 = 0 THEN NULL
        |       ELSE substr(sha256('patient_' || (i % 50)), 1, 16) END AS patient_id_hash,
        |  'study_' || (i % 10) AS study_uid,
        |  'series_' || (i % 25) AS series_uid,
        |  'sop_' || i AS sop_instance_uid,
        |  CASE WHEN i % 3 = 0 THEN 'CT' ELSE 'MR' END AS modality,
        |  CAST(32 AS BIGINT) AS "rows", CAST(32 AS BIGINT) AS cols,
        |  CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(1000 + i % 500 AS DOUBLE) END AS window_center,
        |  CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(400 + i % 200 AS DOUBLE) END AS window_width
        |FROM (SELECT CAST(range AS BIGINT) AS i FROM range(200))
        |ORDER BY file_name""".stripMargin,

    "g1_region_grow" -> regionGrowOracle,

    "g1_region_grow_exact" -> regionGrowOracle,

    "g2_frontier_adaptive" ->
      """SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS image_id, CAST(y.range AS BIGINT) AS y,
        |         CAST(x.range AS BIGINT) AS x
        |  FROM range(5, 8) y, range(5, 8) x
        |  UNION ALL
        |  SELECT 1, CAST(y.range AS BIGINT), CAST(x.range AS BIGINT)
        |  FROM range(4, 9) y, range(4, 9) x
        |  UNION ALL
        |  SELECT 2, 6, 6)
        |ORDER BY image_id, y, x""".stripMargin,

    "w2_session_windows" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |m AS (SELECT user_id, ts, value,
        |  CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT MIN(ts) AS session_start, MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  user_id, COUNT(*) AS n_events,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "mm_media_schema" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  source
        |FROM documents ORDER BY media_id""".stripMargin,

    "mm_frame_counts" ->
      """SELECT doc_id AS media_id,
        |  CAST(CEIL(LENGTH(text) / 64.0) AS BIGINT) AS n_frames
        |FROM documents
        |WHERE doc_id % 3 = 2 AND LENGTH(text) > 0
        |ORDER BY media_id""".stripMargin,

    "d3_blur_stencil" ->
      """WITH img AS (
        |  SELECT CAST(range AS BIGINT) // 64 AS y, range % 64 AS x,
        |         (range * 2654435761) % 256 AS v
        |  FROM range(4096)),
        |taps AS (SELECT dy, dx, exp(-(dy*dy + dx*dx) / 0.5) AS wr
        |  FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) t(dy, dx)),
        |norm AS (SELECT SUM(wr) AS s FROM taps)
        |SELECT 0 AS image_id, i.y - t.dy AS y, i.x - t.dx AS x,
        |  ROUND(SUM(i.v * (t.wr / n.s)), 6) AS out
        |FROM img i CROSS JOIN taps t CROSS JOIN norm n
        |WHERE i.y - t.dy BETWEEN 1 AND 62 AND i.x - t.dx BETWEEN 1 AND 62
        |GROUP BY 1, 2, 3 ORDER BY y, x""".stripMargin,

    "e12_ssim_stencil" ->
      """WITH img AS (
        |  SELECT CAST(range AS BIGINT) // 1024 AS image_id,
        |         (CAST(range AS BIGINT) % 1024) // 32 AS y,
        |         CAST(range AS BIGINT) % 32 AS x
        |  FROM range(4096)),
        |ab AS (
        |  SELECT image_id, y, x,
        |    CAST((y * 4 + x * 2) % 256 AS DOUBLE) AS a,
        |    LEAST(255.0, CAST((y * 4 + x * 2) % 256 AS DOUBLE) * 0.9
        |                 + (y * 3 + x + image_id * 7) % 29) AS b
        |  FROM img),
        |taps AS (SELECT t1.range AS dy, t2.range AS dx
        |  FROM range(-3, 4) t1 CROSS JOIN range(-3, 4) t2),
        |m AS (
        |  SELECT i.image_id, i.y - t.dy AS ty, i.x - t.dx AS tx,
        |    SUM(i.a) / 49 AS ux, SUM(i.b) / 49 AS uy,
        |    SUM(i.a * i.a) / 49 AS uxx, SUM(i.b * i.b) / 49 AS uyy,
        |    SUM(i.a * i.b) / 49 AS uxy
        |  FROM ab i CROSS JOIN taps t
        |  WHERE i.y - t.dy BETWEEN 3 AND 28 AND i.x - t.dx BETWEEN 3 AND 28
        |  GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT image_id,
        |    ((2.0 * ux * uy + 6.5025) * (2.0 * (49.0/48.0 * (uxy - ux * uy)) + 58.5225))
        |    / ((ux * ux + uy * uy + 6.5025)
        |       * ((49.0/48.0 * (uxx - ux * ux)) + (49.0/48.0 * (uyy - uy * uy)) + 58.5225)) AS v
        |  FROM m)
        |SELECT image_id, ROUND(AVG(v), 6) AS mssim
        |FROM s GROUP BY image_id ORDER BY image_id""".stripMargin,

    "d12_sobel_stencil" ->
      """WITH img AS (
        |  SELECT CAST(range AS BIGINT) // 64 AS y, range % 64 AS x,
        |         (range * 2654435761) % 256 AS v
        |  FROM range(4096)),
        |taps AS (SELECT dy, dx, wx, wy FROM (VALUES
        |  (-1,-1,-1,-1),(-1,0,0,-2),(-1,1,1,-1),
        |  (0,-1,-2,0),(0,0,0,0),(0,1,2,0),
        |  (1,-1,-1,1),(1,0,0,2),(1,1,1,1)) t(dy, dx, wx, wy))
        |SELECT 0 AS image_id, i.y - t.dy AS y, i.x - t.dx AS x,
        |  CAST(SUM(i.v * t.wx) AS BIGINT) AS gx, CAST(SUM(i.v * t.wy) AS BIGINT) AS gy,
        |  ROUND(SQRT(CAST(SUM(i.v * t.wx) * SUM(i.v * t.wx) + SUM(i.v * t.wy) * SUM(i.v * t.wy) AS DOUBLE)), 6) AS magnitude
        |FROM img i CROSS JOIN taps t
        |WHERE i.y - t.dy BETWEEN 1 AND 62 AND i.x - t.dx BETWEEN 1 AND 62
        |GROUP BY 1, 2, 3 ORDER BY y, x""".stripMargin,

    "s2_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |f AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
        |              > 21600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |g AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  COUNT(*) AS n_events, MIN(ts) AS session_start,
        |  CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS duration_us,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
        |FROM g GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "j3_pivot" -> {
      val cells = (1995 to 2001).map(y =>
        s"ROUND(CAST(SUM(CASE WHEN year(o_orderdate) = $y THEN " +
          s"CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE), 6) AS y$y")
        .mkString(",\n  ")
      s"SELECT o_orderpriority,\n  $cells\nFROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    },

    "f6_range_join" ->
      """WITH w AS (
        |  SELECT DISTINCT date_trunc('month', o_orderdate) AS w_start,
        |    date_trunc('month', o_orderdate) + INTERVAL 9 DAY AS w_end
        |  FROM orders)
        |SELECT w.w_start, COUNT(*) AS n_orders,
        |  ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        |FROM orders o JOIN w ON o.o_orderdate BETWEEN w.w_start AND w.w_end
        |GROUP BY w.w_start ORDER BY w.w_start""".stripMargin,

    "tfidf_topterms" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(regexp_extract_all(norm, '\S+')) AS term FROM d),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |r AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df_docs,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df_docs ASC, tf.term ASC) AS rank
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df_docs,
        |  ROUND(tf * LN(CAST((SELECT n_docs FROM n) AS DOUBLE) / df_docs), 6) AS tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "neardup_canonical" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT id1, id2 FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')),
        |nodes AS (SELECT id1 AS id FROM e UNION SELECT id2 FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT reach.id, CASE WHEN e.id1 = reach.r THEN e.id2 ELSE e.id1 END AS r
        |  FROM reach JOIN e ON e.id1 = reach.r OR e.id2 = reach.r),
        |lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |q AS (
        |  SELECT doc_id,
        |    ROUND(
        |      LEAST(LENGTH(regexp_extract_all(text, '\\S+')) / 100.0, 1.0) * 0.4 +
        |      (1.0 - LEAST((CASE WHEN LENGTH(text) = 0 THEN 0.0
        |         ELSE CAST(LENGTH(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS DOUBLE) / LENGTH(text) END) * 5.0, 1.0)) * 0.3 +
        |      LEAST((CASE WHEN LENGTH(regexp_extract_all(LOWER(text), '\\S+')) = 0 THEN 0.0
        |      ELSE CAST(LENGTH(list_filter(regexp_extract_all(LOWER(text), '\\S+'),
        |             t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'))) AS DOUBLE)
        |           / LENGTH(regexp_extract_all(LOWER(text), '\\S+')) END) * 4.0, 1.0) * 0.3, 6) AS quality
        |  FROM documents),
        |m AS (
        |  SELECT q.doc_id, COALESCE(lab.cluster_id, q.doc_id) AS cluster_id, q.quality
        |  FROM q LEFT JOIN lab USING (doc_id)),
        |r AS (
        |  SELECT cluster_id, doc_id, quality,
        |    ROW_NUMBER() OVER (PARTITION BY cluster_id
        |      ORDER BY quality DESC, doc_id ASC) AS rn
        |  FROM m),
        |sz AS (SELECT cluster_id, COUNT(*) AS n_members FROM m GROUP BY 1)
        |SELECT r.cluster_id, r.doc_id AS canonical_id, r.quality AS best_quality,
        |  sz.n_members
        |FROM r JOIN sz USING (cluster_id) WHERE rn = 1
        |ORDER BY cluster_id""".stripMargin,

    "corpus_sample_stratified" ->
      """WITH h1 AS (
        |  SELECT lang, n_chars,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '.'),
        |          c -> CAST(ord(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 144115188075855859) AS h
        |  FROM documents),
        |b AS (
        |  SELECT lang, n_chars,
        |    (list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_extract_all(CAST(h AS VARCHAR), '.'),
        |          c -> CAST(ord(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 144115188075855859) % 1000) AS bucket
        |  FROM h1)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM b
        |WHERE bucket < (CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250 ELSE 100 END)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "inverted_index" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |t AS (SELECT DISTINCT doc_id, unnest(regexp_extract_all(norm, '\S+')) AS term FROM d),
        |g AS (
        |  SELECT term, COUNT(*) AS df_docs,
        |    array_to_string(list_sort(list(doc_id ORDER BY doc_id))[1:5], ',') AS sample_postings
        |  FROM t GROUP BY term)
        |SELECT term, df_docs, sample_postings FROM g
        |ORDER BY df_docs DESC, term LIMIT 20""".stripMargin,

    "j4_user_deciles" ->
      """WITH spend AS (
        |  SELECT user_id, SUM(CAST(value AS DECIMAL(18,6))) AS spend
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT spend, NTILE(10) OVER (ORDER BY spend DESC, user_id) AS decile
        |  FROM spend)
        |SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_users,
        |  ROUND(CAST(SUM(spend) AS DOUBLE), 6) AS total_spend,
        |  ROUND(CAST(MAX(spend) AS DOUBLE), 6) AS top_spend
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,

    "heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(regexp_extract_all(
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+')) AS term
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM t)
        |SELECT term AS key, COUNT(*) AS cnt FROM t
        |GROUP BY term HAVING COUNT(*) >= (SELECT n // 200 + 1 FROM tot)
        |ORDER BY cnt DESC, key""".stripMargin,

    "script_profile" ->
      """WITH d AS (
        |  SELECT * FROM (VALUES
        |    (1, '深度学习模型的训练数据质量'),
        |    (2, 'ひらがなとカタカナのテキスト'),
        |    (3, 'ข้อมูลการฝึกอบรมโมเดลภาษา'),
        |    (4, 'Qualité des données d''entraînement: été, Çà!'),
        |    (5, 'Обучение языковых моделей'),
        |    (6, 'MIXED text 混合テキスト 123'),
        |    (7, '12345 67890 !!!')) AS t(doc_id, text)),
        |c AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\p{Latin}')) AS BIGINT) AS n_latin,
        |  CAST(len(regexp_extract_all(text, '\p{Han}')) AS BIGINT) AS n_han,
        |  CAST(len(regexp_extract_all(text, '\p{Hiragana}|\p{Katakana}')) AS BIGINT) AS n_kana,
        |  CAST(len(regexp_extract_all(text, '\p{Cyrillic}')) AS BIGINT) AS n_cyrillic,
        |  CAST(len(regexp_extract_all(text, '\p{Thai}')) AS BIGINT) AS n_thai
        |  FROM d),
        |g AS (SELECT *, GREATEST(n_latin, n_han, n_kana, n_cyrillic, n_thai) AS mx FROM c)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  n_latin, n_han, n_kana, n_cyrillic, n_thai,
        |  CASE WHEN mx = 0 THEN 'none'
        |       WHEN n_latin = mx THEN 'latin'
        |       WHEN n_han = mx THEN 'han'
        |       WHEN n_kana = mx THEN 'kana'
        |       WHEN n_cyrillic = mx THEN 'cyrillic'
        |       ELSE 'thai' END AS dominant_script
        |FROM g ORDER BY doc_id""".stripMargin,

    "dup_windows" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(range(LENGTH(norm) - 39)) AS i, norm
        |  FROM d WHERE LENGTH(norm) >= 40),
        |w AS (
        |  SELECT doc_id,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       list_transform(regexp_extract_all(norm[i+1:i+40], '.'),
        |         c -> CAST(ord(c) AS BIGINT))),
        |       (acc, c) -> (acc * 31 + c) % 2147483647) * 2147483648
        |     + list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       list_transform(regexp_extract_all(norm[i+1:i+40], '.'),
        |         c -> CAST(ord(c) AS BIGINT))),
        |       (acc, c) -> (acc * 37 + c) % 2147483647)) AS wh
        |  FROM p),
        |pdw AS (SELECT doc_id, wh, COUNT(*) AS n_pos FROM w GROUP BY doc_id, wh),
        |df AS (SELECT wh, COUNT(*) AS df FROM pdw GROUP BY wh),
        |agg AS (
        |  SELECT doc_id, SUM(n_pos) AS n_windows,
        |    SUM(CASE WHEN df >= 2 THEN n_pos ELSE 0 END) AS n_dup_windows,
        |    SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup_distinct
        |  FROM pdw JOIN df USING (wh) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(n_windows, 0) AS BIGINT) AS n_windows,
        |  CAST(COALESCE(n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(COALESCE(n_dup_distinct, 0) AS BIGINT) AS n_dup_distinct
        |FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "bm25_topk" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
        |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, dl, t.term, COUNT(*) AS tf
        |  FROM dl, unnest(toks) AS t(term)
        |  WHERE t.term IN ('data', 'query', 'join', 'window', 'spark')
        |  GROUP BY doc_id, dl, t.term),
        |dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(ROUND(
        |      LN((n_docs - df_t + CAST(0.5 AS DOUBLE)) / (df_t + CAST(0.5 AS DOUBLE)) + 1.0)
        |      * (tf * CAST(2.2 AS DOUBLE))
        |      / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |         + CAST(0.75 AS DOUBLE) * dl / avgdl))
        |      * 1000000, 0) AS BIGINT) AS c
        |  FROM tf JOIN dft USING (term) CROSS JOIN stats)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS bm25_micro
        |FROM sc GROUP BY doc_id
        |ORDER BY bm25_micro DESC, doc_id LIMIT 20""".stripMargin,

    "unigram_surprisal" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(regexp_extract_all(norm, '\S+')) AS term FROM d),
        |m AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM m)
        |SELECT t.doc_id, COUNT(*) AS n_terms,
        |  ROUND(CAST(SUM(CAST(ROUND(LN((SELECT total FROM tot) / cnt) * 1000000000, 0) AS BIGINT)) AS DOUBLE)
        |        / 1000000000 / COUNT(*), 6) AS avg_nll
        |FROM t JOIN m USING (term)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "vocab_oov" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(regexp_extract_all(norm, '\S+')) AS term FROM d),
        |v AS (SELECT term FROM (
        |  SELECT term, COUNT(*) AS cnt FROM t GROUP BY 1
        |  ORDER BY cnt DESC, term LIMIT 2000)),
        |agg AS (
        |  SELECT t.doc_id, COUNT(*) AS n_tokens,
        |    SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
        |  FROM t LEFT JOIN v USING (term) GROUP BY t.doc_id)
        |SELECT d0.doc_id, CAST(COALESCE(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(agg.n_oov, 0) AS BIGINT) AS n_oov,
        |  CAST(CASE WHEN COALESCE(agg.n_tokens, 0) = 0 THEN 0
        |       ELSE (COALESCE(agg.n_oov, 0) * 1000) // agg.n_tokens END AS BIGINT)
        |    AS oov_permille
        |FROM (SELECT doc_id FROM documents) d0 LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "quality_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_extract_all(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM d),
        |tf AS (SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |uni AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_terms, CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(c * LENGTH(term)) AS BIGINT) AS term_chars
        |  FROM tf GROUP BY 1),
        |topu AS (
        |  SELECT doc_id, term AS top_word, CAST(c AS BIGINT) AS top_c
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, term) AS rn FROM tf)
        |  WHERE rn = 1),
        |bg AS (
        |  SELECT a.doc_id, a.term || ' ' || b.term AS gram
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |bf AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |topb AS (
        |  SELECT doc_id, gram AS top_bigram, CAST(c AS BIGINT) AS top_bc
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn FROM bf)
        |  WHERE rn = 1)
        |SELECT u.doc_id, u.n_terms,
        |  CAST((2 * (u.n_terms - u.n_distinct) * 1000000 + u.n_terms) // (2 * u.n_terms) AS BIGINT) AS dup_word_frac_e6,
        |  topu.top_word,
        |  CAST((2 * topu.top_c * 1000000 + u.n_terms) // (2 * u.n_terms) AS BIGINT) AS top_word_frac_e6,
        |  COALESCE(topb.top_bigram, '') AS top_bigram,
        |  CAST((2 * COALESCE(topb.top_bc, 0) * (LENGTH(COALESCE(topb.top_bigram, '')) - 1) * 1000000 + u.term_chars)
        |       // (2 * u.term_chars) AS BIGINT) AS top_bigram_char_frac_e6
        |FROM uni u JOIN topu USING (doc_id) LEFT JOIN topb USING (doc_id)
        |ORDER BY u.doc_id""".stripMargin,

    "decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_extract_all(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' '))) AS g
        |    FROM d WHERE len(toks) >= 8)),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 5 = 0)
        |SELECT s.doc_id, COUNT(*) AS n_hits
        |FROM sh s JOIN bench b ON s.g = b.g WHERE s.doc_id % 5 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id),
        |cells AS (
        |  SELECT DISTINCT f.cohort_wk,
        |    CAST(date_diff('day', f.cohort_wk, ev.wk) // 7 AS INTEGER) AS week_offset,
        |    ev.user_id
        |  FROM ev JOIN f ON ev.user_id = f.user_id)
        |SELECT cohort_wk, week_offset, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM cells GROUP BY cohort_wk, week_offset
        |ORDER BY cohort_wk, week_offset""".stripMargin,

    "j7_window_suite" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |  LAG(o_totalprice, 1) OVER w AS prev_total,
        |  LEAD(o_totalprice, 1) OVER w AS next_total,
        |  FIRST_VALUE(o_totalprice) OVER wf AS first_total,
        |  LAST_VALUE(o_totalprice) OVER wf AS last_total,
        |  NTH_VALUE(o_totalprice, 2) OVER wf AS second_total,
        |  ROUND(PERCENT_RANK() OVER w, 6) AS pr,
        |  ROUND(CUME_DIST() OVER w, 6) AS cd
        |FROM orders
        |WHERE o_custkey % 100 = 0
        |WINDOW
        |  w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "sql_set_ops" ->
      """SELECT 'viewed_and_purchased' AS segment, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT 'viewed_never_purchased' AS segment, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |ORDER BY segment, user_id""".stripMargin,

    "s8_ewma" ->
      """WITH r AS (
        |  SELECT user_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rank
        |  FROM events),
        |s AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    list(value ORDER BY rank DESC) AS vals
        |  FROM r WHERE rank <= 64 GROUP BY user_id)
        |SELECT user_id, n_events,
        |  ROUND(list_reduce(vals, (acc, x) -> (x + acc) / 2.0), 6) AS ewma
        |FROM s ORDER BY user_id""".stripMargin,

    "bloom_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_extract_all(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' '))) AS g
        |    FROM d WHERE len(toks) >= 8)),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 7 = 0)
        |SELECT s.doc_id, COUNT(*) AS n_hits
        |FROM sh s JOIN bench b ON s.g = b.g WHERE s.doc_id % 7 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "bigram_surprisal" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_extract_all(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM d),
        |bg AS (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |bf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
        |m12 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c12 FROM bf GROUP BY 1, 2),
        |m1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM m12 GROUP BY 1),
        |agg AS (
        |  SELECT bf.doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(tf * CAST(ROUND(LN(CAST(c1 AS DOUBLE) / c12) * 1000000000, 0) AS BIGINT)) AS BIGINT) AS nll_e9
        |  FROM bf JOIN m12 USING (w1, w2) JOIN m1 USING (w1)
        |  GROUP BY bf.doc_id)
        |SELECT doc_id, n_bigrams,
        |  CAST((2 * nll_e9 + 1000 * n_bigrams) // (2000 * n_bigrams) AS BIGINT) AS avg_nll_e6
        |FROM agg ORDER BY doc_id""".stripMargin,

    "emb_dim_stats" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings)
        |SELECT dim, COUNT(*) AS n_vecs,
        |  ROUND(AVG(x), 6) AS mean_val,
        |  ROUND(STDDEV_POP(x), 6) AS std_val,
        |  MIN(x) AS min_val, MAX(x) AS max_val
        |FROM e GROUP BY dim ORDER BY dim""".stripMargin,

    "j5_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "source_cap_topk" ->
      """WITH q AS (
        |  SELECT source, doc_id,
        |    ROUND(
        |      LEAST(LENGTH(regexp_extract_all(text, '\S+')) / 100.0, 1.0) * 0.4 +
        |      (1.0 - LEAST((CASE WHEN LENGTH(text) = 0 THEN 0.0
        |         ELSE CAST(LENGTH(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / LENGTH(text) END) * 5.0, 1.0)) * 0.3 +
        |      LEAST((CASE WHEN LENGTH(regexp_extract_all(LOWER(text), '\S+')) = 0 THEN 0.0
        |      ELSE CAST(LENGTH(list_filter(regexp_extract_all(LOWER(text), '\S+'),
        |             t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'))) AS DOUBLE)
        |           / LENGTH(regexp_extract_all(LOWER(text), '\S+')) END) * 4.0, 1.0) * 0.3, 6) AS quality
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, quality,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rank
        |  FROM q)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, quality
        |FROM r WHERE rank <= 3 ORDER BY source, rank""".stripMargin,

    "s4_debounce" ->
      """WITH w AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value,
        |    LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts, value
        |FROM w
        |WHERE prev_us IS NULL OR epoch_us(ts) - prev_us > CAST(21600 AS BIGINT) * 1000000
        |ORDER BY event_id""".stripMargin,

    "emb_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |st AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM e GROUP BY 1),
        |d AS (
        |  SELECT e.dim, x, mn, mx,
        |    CASE WHEN mx = mn THEN x
        |      ELSE mn + LEAST(255.0, FLOOR((x - mn) / (mx - mn) * 255.0 + 0.5)) * (mx - mn) / 255.0
        |    END AS deq
        |  FROM e JOIN st USING (dim))
        |SELECT dim, ROUND(MIN(mn), 6) AS dim_min, ROUND(MIN(mx), 6) AS dim_max,
        |  ROUND(AVG(ABS(x - deq)), 6) AS avg_abs_err,
        |  ROUND(MAX(ABS(x - deq)), 6) AS max_abs_err
        |FROM d GROUP BY dim ORDER BY dim""".stripMargin,

    "j6_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "corpus_pack" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    LENGTH(regexp_extract_all(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+')) AS n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents),
        |pack AS (
        |  SELECT shard, rn, doc_id, n_tokens, CAST(1 AS BIGINT) AS seq_idx, n_tokens AS fill
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
        |    CASE WHEN p.fill + t.n_tokens > 2048 THEN p.seq_idx + 1 ELSE p.seq_idx END,
        |    CASE WHEN p.fill + t.n_tokens > 2048 THEN t.n_tokens ELSE p.fill + t.n_tokens END
        |  FROM t JOIN pack p ON t.shard = p.shard AND t.rn = p.rn + 1)
        |SELECT doc_id, shard, seq_idx, n_tokens FROM pack ORDER BY doc_id""".stripMargin,

    "corpus_chunks" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_extract_all(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d WHERE len(toks) > 0),
        |k AS (SELECT doc_id, toks, n, unnest(range((n - 1) // 16 + 1)) AS chunk_idx FROM n),
        |c AS (
        |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |    CAST(chunk_idx * 16 AS BIGINT) AS chunk_start, n,
        |    array_to_string(toks[(chunk_idx * 16 + 1):(chunk_idx * 16 + 32)], ' ') AS chunk_text
        |  FROM k)
        |SELECT doc_id, chunk_idx, chunk_start,
        |  LEAST(32, n - chunk_start) AS n_chunk_tokens,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(regexp_extract_all(chunk_text, '.'), ch -> CAST(ord(ch) AS BIGINT))),
        |    (acc, ch) -> (acc * 31 + ch) % 144115188075855859) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "chunk_dup_stats" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_extract_all(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d WHERE len(toks) > 0),
        |k AS (SELECT doc_id, toks, n, unnest(range((n - 1) // 16 + 1)) AS chunk_idx FROM n),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_extract_all(
        |        array_to_string(toks[(chunk_idx * 16 + 1):(chunk_idx * 16 + 32)], ' '), '.'),
        |        ch -> CAST(ord(ch) AS BIGINT))),
        |      (acc, ch) -> (acc * 31 + ch) % 144115188075855859) AS chunk_hash
        |  FROM k),
        |cnt AS (SELECT chunk_hash, COUNT(*) AS cn FROM h GROUP BY 1),
        |s AS (
        |  SELECT doc.source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |    CAST(SUM(CASE WHEN cnt.cn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        |  FROM h JOIN cnt USING (chunk_hash) JOIN documents doc USING (doc_id)
        |  GROUP BY 1)
        |SELECT source, n_chunks, n_dup_chunks,
        |  CAST((2 * n_dup_chunks * 1000000 + n_chunks) // (2 * n_chunks) AS BIGINT) AS dup_frac_e6
        |FROM s ORDER BY source""".stripMargin,

    "corpus_drift" ->
      """WITH d AS (
        |  SELECT doc_id % 2 = 0 AS is_a,
        |    unnest(regexp_extract_all(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT term,
        |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        |  FROM d GROUP BY 1),
        |tot AS (SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b, COUNT(*) AS v FROM tf),
        |p AS (
        |  SELECT term, c_a, c_b,
        |    (c_a + 1.0) / (n_a + v) AS pa,
        |    (c_b + 1.0) / (n_b + v) AS pb
        |  FROM tf, tot)
        |SELECT term, c_a, c_b,
        |  ROUND(pa * LN(pa / pb), 9) AS kl_term_ab,
        |  ROUND(pb * LN(pb / pa), 9) AS kl_term_ba
        |FROM p ORDER BY term""".stripMargin,

    "s5_gapfill" ->
      """WITH u AS (
        |  SELECT user_id,
        |    date_trunc('day', MIN(CAST(ts AS TIMESTAMP))) AS b0,
        |    date_trunc('day', MAX(CAST(ts AS TIMESTAMP))) AS b1
        |  FROM events GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 DAY)) AS bucket FROM u),
        |agg AS (
        |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sv
        |  FROM events GROUP BY 1, 2)
        |SELECT g.user_id, g.bucket, COALESCE(a.n, 0) AS n_events,
        |  LAST_VALUE(a.sv IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.bucket ROWS UNBOUNDED PRECEDING) AS filled_sum
        |FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.bucket = a.bucket
        |ORDER BY g.user_id, g.bucket""".stripMargin,

    "pagerank_neardup" -> {
      val iterStep = (prev: String, cur: String) =>
        s"""$cur AS (
           |  SELECT dst AS doc_id,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
           |      + CAST(0.85 AS DOUBLE) * SUM(r.rank / a.deg) AS rank
           |  FROM adj a JOIN $prev r ON a.src = r.doc_id GROUP BY dst)""".stripMargin
      val iters = (1 to 5).map(i => iterStep(s"r${i - 1}", s"r$i")).mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT id1, id2 FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')
         |  WHERE id1 <> id2),
         |sym AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT id1 AS src, id2 AS dst FROM e0
         |    UNION ALL SELECT id2, id1 FROM e0)),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
         |adj AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d USING (src)),
         |nn AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS n FROM sym),
         |r0 AS (SELECT DISTINCT src AS doc_id, 1.0 / (SELECT n FROM nn) AS rank FROM sym),
         |$iters
         |SELECT doc_id, ROUND(rank, 9) AS rank FROM r5 ORDER BY doc_id""".stripMargin
    },

    "q5_local_supplier" ->
      """SELECT n_name,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) DESC, n_name""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) DESC,
        |  o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,

    "w5_sliding_window" ->
      """WITH x AS (
        |  SELECT event_type, value,
        |    unnest([time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE,
        |            time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))]) AS w_start
        |  FROM events)
        |SELECT w_start, event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "dq_checks" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS dup_pk_rows,
        |  CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
        |  CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_out_of_range,
        |  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS discount_out_of_range,
        |  CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price,
        |  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate
        |FROM lineitem""".stripMargin,

    "h6_diversified_topk" ->
      """WITH q AS (
        |  SELECT source, doc_id,
        |    ROUND(
        |      LEAST(LENGTH(regexp_extract_all(text, '\S+')) / 100.0, 1.0) * 0.4 +
        |      (1.0 - LEAST((CASE WHEN LENGTH(text) = 0 THEN 0.0
        |         ELSE CAST(LENGTH(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / LENGTH(text) END) * 5.0, 1.0)) * 0.3 +
        |      LEAST((CASE WHEN LENGTH(regexp_extract_all(LOWER(text), '\S+')) = 0 THEN 0.0
        |      ELSE CAST(LENGTH(list_filter(regexp_extract_all(LOWER(text), '\S+'),
        |             t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'))) AS DOUBLE)
        |           / LENGTH(regexp_extract_all(LOWER(text), '\S+')) END) * 4.0, 1.0) * 0.3, 6) AS quality
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, quality,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
        |  FROM q)
        |SELECT doc_id, source, quality FROM r WHERE rn <= 2
        |ORDER BY quality DESC, doc_id LIMIT 10""".stripMargin,

    "s6_moving_avg" ->
      """WITH u AS (
        |  SELECT user_id,
        |    date_trunc('day', MIN(CAST(ts AS TIMESTAMP))) AS b0,
        |    date_trunc('day', MAX(CAST(ts AS TIMESTAMP))) AS b1
        |  FROM events GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 DAY)) AS bucket FROM u),
        |agg AS (
        |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sv
        |  FROM events GROUP BY 1, 2),
        |daily AS (
        |  SELECT g.user_id, g.bucket, COALESCE(a.n, 0) AS n_events,
        |    LAST_VALUE(a.sv IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.bucket ROWS UNBOUNDED PRECEDING) AS filled_sum
        |  FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.bucket = a.bucket)
        |SELECT user_id, bucket, n_events,
        |  ROUND(AVG(filled_sum) OVER (
        |    PARTITION BY user_id ORDER BY bucket
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
        |FROM daily ORDER BY user_id, bucket""".stripMargin,

    "emb_covariance" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |f AS (SELECT vec_id, i, x FROM e WHERE i <= 8)
        |SELECT a.i, b.i AS j, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  ROUND(COVAR_POP(a.x, b.x), 9) AS cov,
        |  ROUND(CORR(a.x, b.x), 6) AS corr
        |FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY a.i, b.i ORDER BY a.i, b.i""".stripMargin,

    "emb_covariance_gram" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings)
        |SELECT a.i, b.i AS j, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  ROUND(SUM(a.x * b.x) / COUNT(*)
        |        - (SUM(a.x) / COUNT(*)) * (SUM(b.x) / COUNT(*)), 9) AS cov,
        |  ROUND((SUM(a.x * b.x) / COUNT(*)
        |         - (SUM(a.x) / COUNT(*)) * (SUM(b.x) / COUNT(*)))
        |        / NULLIF(SQRT(
        |            (SUM(a.x * a.x) / COUNT(*) - (SUM(a.x) / COUNT(*)) * (SUM(a.x) / COUNT(*)))
        |          * (SUM(b.x * b.x) / COUNT(*) - (SUM(b.x) / COUNT(*)) * (SUM(b.x) / COUNT(*)))), 0), 6) AS corr
        |FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY a.i, b.i ORDER BY a.i, b.i""".stripMargin,

    "w6_stream_static" ->
      """SELECT n.n_name, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    "w7_stream_png_sink" ->
      """WITH ids AS (SELECT CAST(range AS BIGINT) AS i FROM range(30) WHERE range <> 17),
        |px AS (
        |  SELECT i, CAST(p.range AS BIGINT) AS pos,
        |         CAST((i * 131 + (CAST(p.range AS BIGINT) // 32) * 17
        |               + (CAST(p.range AS BIGINT) % 32) * 7) % 4096 AS DOUBLE) AS v
        |  FROM ids, range(1024) p),
        |w AS (SELECT i,
        |  CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(1000 + i % 500 AS DOUBLE) END AS wc,
        |  CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(400 + i % 200 AS DOUBLE) END AS ww
        |  FROM ids),
        |b AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM px GROUP BY i),
        |u AS (SELECT px.i, pos,
        |  CASE WHEN wc IS NULL THEN
        |    LEAST(GREATEST(CAST(FLOOR((v - mn) / GREATEST(mx - mn, 1e-6) * 255.0) AS BIGINT), 0), 255)
        |  ELSE
        |    LEAST(GREATEST(CAST(FLOOR(
        |      (LEAST(GREATEST(v, wc - ww / 2), wc + ww / 2) - (wc - ww / 2))
        |      / GREATEST((wc + ww / 2) - (wc - ww / 2), 1e-6) * 255.0) AS BIGINT), 0), 255)
        |  END AS u8
        |  FROM px JOIN w USING (i) JOIN b USING (i))
        |SELECT printf('img_%06d', i) AS file_name, COUNT(*) AS n_px,
        |  CAST(SUM(u8) AS BIGINT) AS sum_v,
        |  CAST(SUM(pos * u8) AS BIGINT) AS weighted_sum
        |FROM u GROUP BY i ORDER BY file_name""".stripMargin,

    "q6_revenue_delta" ->
      """SELECT
        |  ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    "q4_priority_semijoin" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "funnel_conversion" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS ts
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id AND CAST(e.ts AS TIMESTAMP) > s1.ts
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS ts
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id AND CAST(e.ts AS TIMESTAMP) > s2.ts
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 1 AS stage_idx, 'view' AS stage, (SELECT COUNT(*) FROM s1) AS n_users
        |  UNION ALL
        |  SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        |  UNION ALL
        |  SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3))
        |ORDER BY stage_idx""".stripMargin,

    "zipf_fit" ->
      """WITH t AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents),
        |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY term),
        |top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 1000),
        |r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank FROM top),
        |q AS (SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
        |             CAST(ROUND(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS ly FROM r),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
        |             CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
        |             CAST(SUM(lx * ly) AS BIGINT) AS sxy,
        |             CAST(SUM(lx * lx) AS BIGINT) AS sxx FROM q),
        |f AS (SELECT n_terms, sx, sy,
        |  (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
        |  FROM s)
        |SELECT n_terms, sx, sy, ROUND(slope, 6) AS zipf_slope,
        |  ROUND((CAST(sy AS DOUBLE) / 1e6 - slope * (CAST(sx AS DOUBLE) / 1e6))
        |        / CAST(n_terms AS DOUBLE), 6) AS zipf_intercept_ln
        |FROM f""".stripMargin,

    "mixture_weights" ->
      """WITH s AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(LENGTH(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs, total_tokens,
        |    CAST(ROUND(SQRT(CAST(total_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
        |  FROM s),
        |t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_total FROM w)
        |SELECT source, n_docs, total_tokens, w_micro,
        |  ROUND(CAST(w_micro AS DOUBLE) / CAST(w_total AS DOUBLE), 6) AS mix_weight
        |FROM w, t ORDER BY source""".stripMargin,

    "quality_classifier" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
        |w AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |  CAST(COALESCE(list_sum(list_transform(toks, tok ->
        |    ((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_extract_all(tok, '.'), c -> CAST(ord(c) AS BIGINT))),
        |        (acc, c) -> (acc * 31 + c) % 144115188075855859) % 4096)
        |      * 2654435761) % 1000003 - 501001)), 0) AS BIGINT) AS sum_wq
        |  FROM t)
        |SELECT doc_id, n_toks, sum_wq,
        |  CASE WHEN n_toks = 0 THEN 0.0
        |       ELSE ROUND(CAST(sum_wq AS DOUBLE) / (1000003.0 * CAST(n_toks AS DOUBLE)), 6)
        |  END AS score,
        |  (n_toks > 0 AND sum_wq > 0) AS keep
        |FROM w ORDER BY doc_id""".stripMargin,

    "semdedup_agreement" ->
      s"""WITH lex AS (
        |  SELECT DISTINCT LEAST(id1, id2) AS a, GREATEST(id1, id2) AS b
        |  FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')),
        |sem AS (
        |  SELECT DISTINCT LEAST(id1, id2) AS a, GREATEST(id1, id2) AS b
        |  FROM read_parquet('$fixturesDir/embedding_neardups.parquet')),
        |j AS (
        |  SELECT l.a AS la, s.a AS sa
        |  FROM lex l FULL OUTER JOIN sem s ON l.a = s.a AND l.b = s.b)
        |SELECT
        |  CAST(SUM(CASE WHEN la IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lexical,
        |  CAST(SUM(CASE WHEN sa IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_semantic,
        |  CAST(SUM(CASE WHEN la IS NOT NULL AND sa IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(SUM(CASE WHEN la IS NOT NULL AND sa IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lexical_only,
        |  CAST(SUM(CASE WHEN la IS NULL AND sa IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_semantic_only
        |FROM j""".stripMargin,

    "s7_range_frame" ->
      """SELECT user_id, event_id,
        |  COUNT(*) OVER w AS n_7d,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 6) AS sum_7d
        |FROM (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "sql_correlated_subquery" ->
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 6) AS o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 2.5 * (
        |  SELECT AVG(o2.o_totalprice) FROM orders o2
        |  WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q12_priority_counts" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q19_disjunctive" ->
      """SELECT
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#2' AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#3' AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,

    "corpus_snapshot_diff" ->
      """WITH o AS (
        |  SELECT doc_id,
        |    md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |        '\s+', ' ', 'g'))) AS fp_old
        |  FROM documents WHERE doc_id % 7 <> 0),
        |n AS (
        |  SELECT doc_id,
        |    md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(
        |        CASE WHEN doc_id % 5 = 0 THEN text || ' [edited]' ELSE text END),
        |        '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp_new
        |  FROM documents WHERE doc_id % 11 <> 0),
        |j AS (SELECT o.fp_old, n.fp_new FROM o FULL OUTER JOIN n USING (doc_id))
        |SELECT
        |  CAST(SUM(CASE WHEN fp_old IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(SUM(CASE WHEN fp_new IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(SUM(CASE WHEN fp_old IS NOT NULL AND fp_new IS NOT NULL
        |                 AND fp_old <> fp_new THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(SUM(CASE WHEN fp_old = fp_new THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM j""".stripMargin,

    "sql_recursive_cte" ->
      s"""WITH RECURSIVE walk(id, depth) AS (
        |  SELECT MIN(id1), 0 FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')
        |  UNION ALL
        |  SELECT s.dst, w.depth + 1
        |  FROM walk w
        |  JOIN (SELECT id1 AS src, id2 AS dst
        |        FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')
        |        UNION SELECT id2, id1
        |        FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')) s
        |    ON s.src = w.id
        |  WHERE w.depth < 4)
        |SELECT id, MIN(depth) AS dist
        |FROM walk GROUP BY id ORDER BY id""".stripMargin,

    "json_props" ->
      """WITH p AS (
        |  SELECT user_id,
        |    CASE WHEN event_id % 13 = 0 THEN substr(props, 2, 1000) ELSE props END AS pr
        |  FROM events),
        |k AS (SELECT user_id,
        |    CASE WHEN json_valid(pr) THEN CAST(json_extract(pr, '$.k') AS BIGINT)
        |         ELSE NULL END AS k
        |  FROM p)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        |  CAST(SUM(COALESCE(k, 0)) AS BIGINT) AS sum_k
        |FROM k GROUP BY user_id ORDER BY user_id""".stripMargin,

    "sql_lateral_join" ->
      """SELECT o.o_orderkey, t.l_linenumber, ROUND(t.l_extendedprice, 6) AS l_extendedprice
        |FROM orders o
        |JOIN LATERAL (
        |  SELECT l_linenumber, l_extendedprice FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t ON TRUE
        |WHERE o.o_orderkey % 100 = 0
        |ORDER BY o.o_orderkey, l_extendedprice DESC, l_linenumber""".stripMargin,

    "small_file_compaction" ->
      """WITH r AS (SELECT CAST(range AS BIGINT) AS id FROM range(10000)),
        |v AS (SELECT id, (id * 2654435761) % 1000003 AS v FROM r)
        |SELECT CAST(64 AS BIGINT) AS n_files_before, CAST(4 AS BIGINT) AS n_files_after,
        |  COUNT(*) AS n_rows, CAST(SUM(v) AS BIGINT) AS sum_v,
        |  CAST(SUM(id * v) AS BIGINT) AS weighted_v
        |FROM v""".stripMargin,

    "csv_source_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  MIN(epoch_us(o_orderdate)) AS first_order_us,
        |  MAX(epoch_us(o_orderdate)) AS last_order_us
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT '__QUARANTINE__', CAST(2 AS BIGINT), NULL, NULL, NULL
        |ORDER BY o_orderstatus""".stripMargin,

    "orc_partitioned_sink" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
        |    * 1000000) AS BIGINT)) AS BIGINT) AS revenue_micro
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_returnflag""".stripMargin,

    "cdc_merge_upsert" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 17 <> 5 AND o_orderkey % 13 <> 3
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000 FROM orders
        |  WHERE o_orderkey % 17 <> 5 AND o_orderkey % 13 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'N', CAST(99.99 AS DOUBLE) FROM orders
        |  WHERE o_orderkey % 29 = 7)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    "scd2_history" ->
      """WITH hist AS (
        |  SELECT c_custkey, c_acctbal,
        |    TIMESTAMP '2020-01-01' AS valid_from,
        |    CASE WHEN c_custkey % 7 = 2 THEN TIMESTAMP '2021-01-01' END AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal + 100, TIMESTAMP '2021-01-01',
        |    CASE WHEN c_custkey % 21 = 2 THEN TIMESTAMP '2022-01-01' END
        |  FROM customer WHERE c_custkey % 7 = 2
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal + 300, TIMESTAMP '2022-01-01', NULL
        |  FROM customer WHERE c_custkey % 21 = 2)
        |SELECT COUNT(*) AS n_versions,
        |  CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  CAST(SUM(CASE WHEN valid_to IS NULL
        |    THEN CAST(ROUND(c_acctbal * 100) AS BIGINT) END) AS BIGINT) AS open_cents,
        |  CAST(SUM(c_custkey * COALESCE(
        |    date_diff('day', DATE '2020-01-01', CAST(valid_to AS DATE)), 0))
        |    AS BIGINT) AS closed_key_days,
        |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT) *
        |    (date_diff('day', DATE '2020-01-01', CAST(valid_from AS DATE)) + 1))
        |    AS BIGINT) AS version_cents_weighted
        |FROM hist""".stripMargin,

    "zorder_layout" ->
      """WITH b AS (
        |  SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem),
        |s1 AS (SELECT x, y,
        |  (x | (x << 16)) & 281470681808895 AS vx,
        |  (y | (y << 16)) & 281470681808895 AS vy FROM b),
        |s2 AS (SELECT x, y,
        |  (vx | (vx << 8)) & 71777214294589695 AS vx,
        |  (vy | (vy << 8)) & 71777214294589695 AS vy FROM s1),
        |s3 AS (SELECT x, y,
        |  (vx | (vx << 4)) & 1085102592571150095 AS vx,
        |  (vy | (vy << 4)) & 1085102592571150095 AS vy FROM s2),
        |s4 AS (SELECT x, y,
        |  (vx | (vx << 2)) & 3689348814741910323 AS vx,
        |  (vy | (vy << 2)) & 3689348814741910323 AS vy FROM s3),
        |s5 AS (SELECT x, y,
        |  (vx | (vx << 1)) & 6148914691236517205 AS vx,
        |  (vy | (vy << 1)) & 6148914691236517205 AS vy FROM s4),
        |z AS (SELECT x, y,
        |  (vx | (vy << 1)) >> 14 AS zb, x >> 4 AS xb FROM s5)
        |SELECT
        |  CAST(SUM(CASE WHEN x BETWEEN 96 AND 223 AND y BETWEEN 320 AND 383
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_rows_box,
        |  CAST(COUNT(DISTINCT CASE WHEN x BETWEEN 96 AND 223 AND y BETWEEN 320 AND 383
        |    THEN zb END) AS BIGINT) AS n_box_zbuckets,
        |  CAST(COUNT(DISTINCT CASE WHEN y BETWEEN 320 AND 383
        |    THEN zb END) AS BIGINT) AS n_ybox_zbuckets,
        |  CAST(COUNT(DISTINCT CASE WHEN y BETWEEN 320 AND 383
        |    THEN xb END) AS BIGINT) AS n_ybox_xbuckets
        |FROM z""".stripMargin,

    "incremental_agg" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(LENGTH(regexp_extract_all(
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' [edited]' ELSE text END,
        |    '\S+'))) AS BIGINT) AS total_tokens
        |FROM documents WHERE doc_id % 11 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,

    "split_leakage" ->
      """WITH d AS (
        |  SELECT
        |    md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |        '\s+', ' ', 'g'))) AS fp,
        |    (list_reduce(
        |       list_prepend(CAST(0 AS BIGINT),
        |         list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '.'),
        |           c -> CAST(ord(c) AS BIGINT))),
        |       (acc, c) -> (acc * 31 + c) % 144115188075855859) % 100) AS bucket
        |  FROM documents),
        |s AS (SELECT fp,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'validation' ELSE 'test' END AS split FROM d),
        |g AS (SELECT fp, COUNT(*) AS n_docs, COUNT(DISTINCT split) AS n_splits
        |      FROM s GROUP BY fp)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_content_groups,
        |  CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
        |  CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaking_groups,
        |  CAST(SUM(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT) AS n_leaking_docs
        |FROM g""".stripMargin,

    "leakage_safe_split" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT id1, id2 FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')),
        |nodes AS (SELECT id1 AS id FROM e UNION SELECT id2 FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT reach.id, CASE WHEN e.id1 = reach.r THEN e.id2 ELSE e.id1 END AS r
        |  FROM reach JOIN e ON e.id1 = reach.r OR e.id2 = reach.r),
        |cc AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |g AS (SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS group_id
        |      FROM documents d LEFT JOIN cc USING (doc_id)),
        |s AS (SELECT doc_id, group_id,
        |  CASE WHEN (list_reduce(
        |       list_prepend(CAST(0 AS BIGINT),
        |         list_transform(regexp_extract_all(CAST(group_id AS VARCHAR), '.'),
        |           c -> CAST(ord(c) AS BIGINT))),
        |       (acc, c) -> (acc * 31 + c) % 144115188075855859) % 100) < 80
        |         THEN 'train'
        |       WHEN (list_reduce(
        |       list_prepend(CAST(0 AS BIGINT),
        |         list_transform(regexp_extract_all(CAST(group_id AS VARCHAR), '.'),
        |           c -> CAST(ord(c) AS BIGINT))),
        |       (acc, c) -> (acc * 31 + c) % 144115188075855859) % 100) < 90
        |         THEN 'validation' ELSE 'test' END AS split
        |  FROM g),
        |l AS (SELECT CAST(COALESCE(SUM(CASE WHEN s1.split <> s2.split
        |                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS leaked_pairs
        |      FROM e JOIN s s1 ON s1.doc_id = e.id1
        |             JOIN s s2 ON s2.doc_id = e.id2)
        |SELECT split, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT group_id) AS n_groups,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum, l.leaked_pairs
        |FROM s, l GROUP BY split, l.leaked_pairs ORDER BY split""".stripMargin,

    "session_paths" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
        |f AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 21600000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM f),
        |h AS (
        |  SELECT event_type AS e1,
        |    LEAD(event_type, 1) OVER w2 AS e2,
        |    LEAD(event_type, 2) OVER w2 AS e3
        |  FROM g WINDOW w2 AS (PARTITION BY user_id, s ORDER BY ts, event_id))
        |SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n_occurrences
        |FROM h WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n_occurrences DESC, path LIMIT 20""".stripMargin,

    "readability" ->
      """SELECT doc_id,
        |  CAST(LENGTH(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words,
        |  CAST(LENGTH(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentence_marks,
        |  CAST(LENGTH(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_vowel_groups,
        |  CASE WHEN LENGTH(regexp_extract_all(lower(text), '[a-z]+')) = 0 THEN 0.0
        |       ELSE ROUND(CAST(206.835 AS DOUBLE)
        |         - CAST(1.015 AS DOUBLE)
        |           * (CAST(LENGTH(regexp_extract_all(lower(text), '[a-z]+')) AS DOUBLE)
        |              / CAST(GREATEST(LENGTH(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
        |         - CAST(84.6 AS DOUBLE)
        |           * (CAST(LENGTH(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |              / CAST(LENGTH(regexp_extract_all(lower(text), '[a-z]+')) AS DOUBLE)), 6)
        |  END AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin,

    "char_entropy" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]') AS cs FROM documents)
        |SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_chars,
        |  CAST(len(list_distinct(cs)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(cs) = 0 THEN 0.0 ELSE
        |    ROUND(list_reduce(
        |      list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(list_sort(list_distinct(cs)), ch ->
        |          -(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE)
        |            / CAST(len(cs) AS DOUBLE))
        |          * ln(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE)
        |               / CAST(len(cs) AS DOUBLE)))),
        |      (a, b) -> a + b), 6) END AS char_entropy
        |FROM d ORDER BY doc_id""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 300)
        |SELECT c_name, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |  ROUND(o_totalprice, 6) AS o_totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,

    "q14_promo_share" ->
      """SELECT
        |  ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS promo_share_pct,
        |  ROUND(CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE), 6) AS promo_revenue,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS total_revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,

    "lang_entropy" -> {
      // Generated from the SAME profile lists the engine votes with —
      // entropy terms in identical (sorted-language) order, so both
      // engines evaluate the same IEEE expression tree.
      val langs = TextAnalysis.langProfileList
      val voteCols = langs.map { case (l, ws) =>
        s"CAST(len(list_filter(toks, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS v_$l"
      }.mkString(",\n    ")
      val vcols = langs.map(l => s"v_${l._1}").mkString(", ")
      val vt = langs.map(l => s"v_${l._1}").mkString(" + ")
      val nl = langs.map(l => s"(CASE WHEN v_${l._1} > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      val ent = langs.map { case (l, _) =>
        s"(CASE WHEN v_$l > 0 THEN -(CAST(v_$l AS DOUBLE) / CAST(n_votes AS DOUBLE)) * ln(CAST(v_$l AS DOUBLE) / CAST(n_votes AS DOUBLE)) ELSE 0.0 END)"
      }.mkString(" + ")
      val mx = s"GREATEST($vcols)"
      s"""WITH t AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |v AS (SELECT doc_id,
         |    $voteCols
         |  FROM t),
         |n AS (SELECT doc_id, $vcols, ($vt) AS n_votes FROM v)
         |SELECT doc_id, n_votes, CAST($nl AS BIGINT) AS n_langs,
         |  CASE WHEN n_votes = 0 THEN 0.0 ELSE ROUND($ent, 6) END AS lang_entropy,
         |  CASE WHEN n_votes = 0 THEN 0.0
         |       ELSE ROUND(CAST($mx AS DOUBLE) / CAST(n_votes AS DOUBLE), 6) END AS dominant_frac
         |FROM n ORDER BY doc_id""".stripMargin
    },

    "neardup_triangles" ->
      s"""WITH e AS (
        |  SELECT LEAST(id1, id2) AS a, GREATEST(id1, id2) AS b
        |  FROM read_parquet('$fixturesDir/minhash_lsh_pairs.parquet')
        |  WHERE id1 <> id2 GROUP BY 1, 2),
        |deg AS (
        |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
        |d AS (
        |  SELECT CASE WHEN (da.deg < db.deg OR (da.deg = db.deg AND a < b))
        |              THEN a ELSE b END AS src,
        |         CASE WHEN (da.deg < db.deg OR (da.deg = db.deg AND a < b))
        |              THEN b ELSE a END AS dst,
        |         CASE WHEN (da.deg < db.deg OR (da.deg = db.deg AND a < b))
        |              THEN db.deg ELSE da.deg END AS ddeg
        |  FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b),
        |t AS (
        |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        |  FROM d e1
        |  JOIN d e2 ON e1.src = e2.src
        |    AND (e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
        |  JOIN d e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM (SELECT unnest([u, v, w]) AS doc_id FROM t)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "label_centroid_cos" ->
      """WITH c AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS d0,
        |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS xq
        |  FROM embeddings),
        |s AS (SELECT label, d0, CAST(SUM(xq) AS BIGINT) AS s,
        |             CAST(COUNT(*) AS BIGINT) AS n
        |      FROM c GROUP BY 1, 2),
        |p AS (SELECT a.label AS label_i, b.label AS label_j,
        |        MAX(a.n) AS n_i, MAX(b.n) AS n_j,
        |        SUM(CAST(a.s AS HUGEINT) * CAST(b.s AS HUGEINT)) AS dot,
        |        SUM(CAST(a.s AS HUGEINT) * CAST(a.s AS HUGEINT)) AS nrm_i,
        |        SUM(CAST(b.s AS HUGEINT) * CAST(b.s AS HUGEINT)) AS nrm_j
        |      FROM s a JOIN s b ON a.d0 = b.d0 AND a.label <= b.label
        |      GROUP BY 1, 2)
        |SELECT label_i, label_j, n_i, n_j,
        |  ROUND(CAST(dot AS DOUBLE)
        |        / (SQRT(CAST(nrm_i AS DOUBLE)) * SQRT(CAST(nrm_j AS DOUBLE))), 6)
        |    AS centroid_cos
        |FROM p ORDER BY label_i, label_j""".stripMargin,

    "hash_sample_per_source" ->
      """WITH h AS (
        |  SELECT source, doc_id,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '.'),
        |         c -> CAST(ord(c) AS BIGINT))),
        |       (acc, c) -> (acc * 31 + c) % 144115188075855859) % 1000000007) AS sample_hash
        |  FROM documents),
        |r AS (SELECT source, doc_id, sample_hash,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY sample_hash, doc_id) AS BIGINT) AS rank
        |  FROM h)
        |SELECT source, rank, doc_id, sample_hash FROM r WHERE rank <= 3
        |ORDER BY source, rank""".stripMargin,

    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
        |    l_extendedprice, l_discount
        |  FROM lineitem
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_8')
        |      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_7'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q8_market_share" ->
      """SELECT o_year,
        |  ROUND(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share
        |FROM (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume,
        |    n1.n_name AS supp_nation
        |  FROM lineitem
        |    JOIN part ON l_partkey = p_partkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |    JOIN region ON n2.n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01') all_nations
        |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q9_product_profit" ->
      """SELECT nation, o_year,
        |  ROUND(CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation,
        |    CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
        |    l_extendedprice * (1.0 - l_discount) - 0.5 * p_retailprice * l_quantity AS amount
        |  FROM lineitem
        |    JOIN part ON l_partkey = p_partkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE 'red%') profit
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
        |  c_acctbal, n_name
        |FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q11_important_parts" ->
      """WITH pv AS (
        |  SELECT l_partkey AS p_partkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS value_dec
        |  FROM lineitem
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7'
        |  GROUP BY l_partkey)
        |SELECT p_partkey, ROUND(CAST(value_dec AS DOUBLE), 6) AS value
        |FROM pv
        |WHERE value_dec * 1000 > (SELECT SUM(value_dec) FROM pv)
        |ORDER BY value_dec DESC, p_partkey""".stripMargin,

    "q13_order_distribution" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer
        |    LEFT JOIN orders ON c_custkey = o_custkey
        |      AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS total_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, ROUND(CAST(total_dec AS DOUBLE), 6) AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_dec = (SELECT MAX(total_dec) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q17_small_quantity" ->
      """SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 6) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_type = 'PROMO'
        |  AND l_quantity < (
        |    SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name,
        |    MIN(l_extendedprice / l_quantity) AS unit
        |  FROM lineitem
        |    JOIN part ON p_partkey = l_partkey
        |    JOIN supplier ON s_suppkey = l_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_size = 15 AND p_name LIKE '%bolt' AND r_name = 'EUROPE'
        |  GROUP BY p_partkey, s_suppkey, s_name, s_acctbal, n_name)
        |SELECT s_acctbal, s_name, n_name, p_partkey, ROUND(unit, 6) AS unit_price
        |FROM ps
        |WHERE unit = (SELECT MIN(unit) FROM ps p2 WHERE p2.p_partkey = ps.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,

    "q16_part_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q20_part_promotion" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'hot%'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_partkey, l_suppkey),
        |pt AS (
        |  SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS total FROM ps GROUP BY l_partkey)
        |SELECT DISTINCT s_suppkey, s_name
        |FROM ps JOIN pt USING (l_partkey)
        |  JOIN supplier ON s_suppkey = ps.l_suppkey
        |WHERE ps.qty * 4 > pt.total
        |ORDER BY s_suppkey""".stripMargin,

    "q21_waiting_suppliers" ->
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier
        |  JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |  JOIN orders ON o_orderkey = l1.l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "q22_dormant_customers" ->
      """WITH sel AS (
        |  SELECT c_custkey, c_acctbal, n_name
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_3', 'NATION_5', 'NATION_7',
        |                   'NATION_9', 'NATION_11', 'NATION_13'))
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 6) AS totacctbal
        |FROM sel
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        |    FROM sel WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "markov_transitions" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |p AS (SELECT event_type, next_type, COUNT(*) AS n_transitions FROM seq
        |      WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, SUM(n_transitions) AS tot FROM p GROUP BY 1)
        |SELECT p.event_type, p.next_type,
        |  CAST(p.n_transitions AS BIGINT) AS n_transitions,
        |  CAST(p.n_transitions * 1000000 // t.tot AS BIGINT) AS p_micro
        |FROM p JOIN t USING (event_type)
        |ORDER BY event_type, next_type""".stripMargin,

    "active_users_rolling" ->
      """WITH ud AS (
        |  SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id
        |  FROM events),
        |dau AS (SELECT day, COUNT(*) AS n FROM ud GROUP BY 1),
        |wau AS (SELECT d.day, COUNT(DISTINCT u.user_id) AS n
        |        FROM (SELECT DISTINCT day FROM ud) d
        |        JOIN ud u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        |        GROUP BY 1)
        |SELECT dau.day, CAST(dau.n AS BIGINT) AS dau, CAST(wau.n AS BIGINT) AS wau,
        |  CAST(dau.n * 1000000 // wau.n AS BIGINT) AS stickiness_micro
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,

    "copair_topk" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |pt AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n_users_both
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, CAST(n_users_both AS BIGINT) AS n_users_both,
        |  CAST(pa.n AS BIGINT) AS n_users_a, CAST(pb.n AS BIGINT) AS n_users_b
        |FROM pairs JOIN pt pa ON pa.event_type = type_a
        |           JOIN pt pb ON pb.event_type = type_b
        |ORDER BY n_users_both DESC, type_a, type_b LIMIT 20""".stripMargin,

    "robust_anomalies" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type, m.med, quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m USING (event_type) GROUP BY 1, 2)
        |SELECT e.event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN abs(e.value - m.med) > 3.5 * 1.4826 * m.mad
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |  CAST(ROUND(m.med * 1e6) AS BIGINT) AS median_micro,
        |  CAST(ROUND(m.mad * 1e6) AS BIGINT) AS mad_micro
        |FROM events e JOIN mad m USING (event_type)
        |GROUP BY e.event_type, m.med, m.mad
        |ORDER BY e.event_type""".stripMargin,

    // Brute force over ALL shingle-sharing pairs — no prefix pruning —
    // with the identical integer-quantized threshold predicate: equality
    // with the engine's prefix-filtered result proves the pruning lossless.
    // (Pairs sharing no shingle have J = 0 < t, so the shingle join loses
    // nothing at t > 0.)
    "sim_prefix_join" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN
        |           (CASE WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
        |                 ELSE CAST([] AS VARCHAR[]) END)
        |         ELSE list_distinct(list_transform(range(len(toks) - 2),
        |                i -> array_to_string(toks[i+1:i+3], ' '))) END AS sh
        |  FROM d),
        |e AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM e GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
        |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT i.id1, i.id2, s1.sz AS sz1, s2.sz AS sz2,
        |  CAST(i.inter AS BIGINT) AS inter,
        |  CAST(i.inter * 1000000 // (s1.sz + s2.sz - i.inter) AS BIGINT)
        |    AS jaccard_micro
        |FROM inter i JOIN sz s1 ON i.id1 = s1.doc_id
        |             JOIN sz s2 ON i.id2 = s2.doc_id
        |WHERE i.inter * 1000000 >= 800000 * (s1.sz + s2.sz - i.inter)
        |ORDER BY id1, id2""".stripMargin,

    "fuzzy_blocking" ->
      """WITH k AS (
        |  SELECT p_partkey AS id, p_name AS name,
        |    regexp_extract(p_name, '(\S+)$', 1) AS block_key
        |  FROM part),
        |pb AS (SELECT block_key, COUNT(*) AS n_records FROM k GROUP BY 1),
        |pairs AS (
        |  SELECT a.block_key, levenshtein(a.name, b.name) AS d
        |  FROM k a JOIN k b ON a.block_key = b.block_key AND a.id < b.id),
        |pa AS (
        |  SELECT block_key, COUNT(*) AS n_pairs,
        |    CAST(SUM(CASE WHEN d <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
        |    CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
        |  FROM pairs GROUP BY 1)
        |SELECT pb.block_key, CAST(pb.n_records AS BIGINT) AS n_records,
        |  COALESCE(CAST(pa.n_pairs AS BIGINT), 0) AS n_pairs,
        |  COALESCE(pa.n_matches, 0) AS n_matches,
        |  COALESCE(pa.n_exact, 0) AS n_exact
        |FROM pb LEFT JOIN pa USING (block_key)
        |ORDER BY block_key""".stripMargin,

    // Re-derives the merged view straight from the base table: batch
    // membership is the doc_id parity the engine used to split the landed
    // files, so the oracle sees through the schema evolution entirely.
    "schema_evolution" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_evolved,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS sum_chars_evolved
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // Rebuilds the 3×64 counter grid from scratch: the hash family is the
    // same poly31-mod-prime fold corpus_split's oracle already replays,
    // seeded by the "#j" suffix — construction, merge, and min-estimate
    // all re-derived independently.
    "cms_estimate" ->
      """WITH ks AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |hj AS (
        |  SELECT k, n, j,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       list_transform(regexp_extract_all(k || '#' || CAST(j AS VARCHAR), '.'),
        |         c -> CAST(ord(c) AS BIGINT))),
        |       (acc, c) -> (acc * 31 + c) % 144115188075855859) % 64) AS bucket
        |  FROM ks CROSS JOIN (SELECT unnest(range(3)) AS j)),
        |counters AS (SELECT j, bucket, SUM(n) AS counter FROM hj GROUP BY 1, 2),
        |est AS (SELECT hj.k, MIN(counters.counter) AS cms_est
        |        FROM hj JOIN counters USING (j, bucket) GROUP BY hj.k)
        |SELECT CAST(ks.k AS BIGINT) AS user_id, CAST(ks.n AS BIGINT) AS exact_n,
        |  CAST(est.cms_est AS BIGINT) AS cms_est,
        |  CAST(est.cms_est - ks.n AS BIGINT) AS overest
        |FROM est JOIN ks USING (k)
        |WHERE CAST(ks.k AS BIGINT) % 10 = 0
        |ORDER BY user_id""".stripMargin,

    // The FULL join, recomputed flat — the engine's base⋈base ∪ three
    // delta terms must reconstruct it exactly.
    "incremental_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Rebuilds BOTH key sketches with the replayed poly31 family, takes
    // the min inner product, and recomputes the exact join size flat.
    "cms_join_size" ->
      """WITH ka AS (SELECT CAST(o_orderkey AS VARCHAR) AS k, COUNT(*) AS n
        |           FROM orders GROUP BY 1),
        |kb AS (SELECT CAST(l_orderkey AS VARCHAR) AS k, COUNT(*) AS n
        |       FROM lineitem GROUP BY 1),
        |ha AS (SELECT j, (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(regexp_extract_all(k || '#' || CAST(j AS VARCHAR), '.'),
        |           c -> CAST(ord(c) AS BIGINT))),
        |         (acc, c) -> (acc * 31 + c) % 144115188075855859) % 16384) AS bucket,
        |         SUM(n) AS counter
        |       FROM ka CROSS JOIN (SELECT unnest(range(3)) AS j) GROUP BY 1, 2),
        |hb AS (SELECT j, (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(regexp_extract_all(k || '#' || CAST(j AS VARCHAR), '.'),
        |           c -> CAST(ord(c) AS BIGINT))),
        |         (acc, c) -> (acc * 31 + c) % 144115188075855859) % 16384) AS bucket,
        |         SUM(n) AS counter
        |       FROM kb CROSS JOIN (SELECT unnest(range(3)) AS j) GROUP BY 1, 2),
        |ip AS (SELECT ha.j, SUM(ha.counter * hb.counter) AS p
        |       FROM ha JOIN hb USING (j, bucket) GROUP BY 1),
        |est AS (SELECT MIN(p) AS est_join_rows FROM ip),
        |ex AS (SELECT COUNT(*) AS exact_join_rows
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT CAST(est.est_join_rows AS BIGINT) AS est_join_rows,
        |  CAST(ex.exact_join_rows AS BIGINT) AS exact_join_rows,
        |  CAST(est.est_join_rows - ex.exact_join_rows AS BIGINT) AS overest
        |FROM est, ex""".stripMargin,

    // Replays both snapshots from the base table (delete = %89, edit =
    // %97 applied BEFORE normalization, exactly as the engine builds
    // snapshot B), folds each row's md5 hex through the poly31 replay,
    // and reduces segments with the same xor/add-mod-2^31−1 pair.
    "table_sync_diff" ->
      """WITH a0 AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|' ||
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g'))) AS h
        |  FROM documents),
        |b0 AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|' ||
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(
        |      CASE WHEN doc_id % 97 = 0 THEN text || ' edited' ELSE text END),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS h
        |  FROM documents WHERE doc_id % 89 <> 0),
        |af AS (SELECT (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '.'),
        |           c -> CAST(ord(c) AS BIGINT))),
        |         (acc, c) -> (acc * 31 + c) % 144115188075855859) % 16) AS bucket,
        |       (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(regexp_extract_all(h, '.'),
        |           c -> CAST(ord(c) AS BIGINT))),
        |         (acc, c) -> (acc * 31 + c) % 144115188075855859)) AS sig
        |     FROM a0),
        |bf AS (SELECT (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '.'),
        |           c -> CAST(ord(c) AS BIGINT))),
        |         (acc, c) -> (acc * 31 + c) % 144115188075855859) % 16) AS bucket,
        |       (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(regexp_extract_all(h, '.'),
        |           c -> CAST(ord(c) AS BIGINT))),
        |         (acc, c) -> (acc * 31 + c) % 144115188075855859)) AS sig
        |     FROM b0),
        |ac AS (SELECT bucket, COUNT(*) AS n, bit_xor(sig) AS x,
        |         CAST(SUM(sig % 2147483647) % 2147483647 AS BIGINT) AS s
        |       FROM af GROUP BY 1),
        |bc AS (SELECT bucket, COUNT(*) AS n, bit_xor(sig) AS x,
        |         CAST(SUM(sig % 2147483647) % 2147483647 AS BIGINT) AS s
        |       FROM bf GROUP BY 1)
        |SELECT COALESCE(ac.bucket, bc.bucket) AS bucket,
        |  CAST(COALESCE(ac.n, 0) AS BIGINT) AS n_rows_a,
        |  CAST(COALESCE(bc.n, 0) AS BIGINT) AS n_rows_b,
        |  CAST(CASE WHEN ac.n IS NOT NULL AND bc.n IS NOT NULL AND ac.n = bc.n
        |            AND ac.x = bc.x AND ac.s = bc.s THEN 1 ELSE 0 END AS BIGINT)
        |    AS in_sync
        |FROM ac FULL OUTER JOIN bc ON ac.bucket = bc.bucket
        |ORDER BY bucket""".stripMargin
    )
  }
}
