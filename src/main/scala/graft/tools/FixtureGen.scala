package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Golden-fixture generator for the deterministic queries whose outputs
  * have no closed-form SQL oracle (kernel chains, LSH pair sets, HLL
  * estimates). Runs each named query at the given scale factor and writes
  * its result as a SINGLE parquet file `outDir/<name>.parquet`; the
  * committed fixtures back `SparkEntry.oracleSql` entries of the form
  * `SELECT * FROM read_parquet('fixtures/<name>.parquet') ORDER BY ...`,
  * turning the former rows-only checks into hard hash gates.
  *
  * Regenerate (after an INTENDED behavior change — a diff here is
  * otherwise a regression):
  * {{{
  *   sbt "runMain graft.tools.FixtureGen /root/testdata/sf0.01 fixtures"
  * }}}
  * Determinism precondition: every fixture-gated query must be bit-stable
  * across independent Spark sessions (integer aggregates, per-row
  * sequential float kernels, order-independent HLL merges — no
  * partition-merge-order-sensitive float accumulation). The build verifies
  * this by diffing two Verify runs before gating a query.
  */
object FixtureGen {

  /** Queries gated by committed fixtures (doc-table-dependent ones are
    * pinned to the sf0.01 tables the driver's correctness gate reads). */
  val fixtureQueries: Seq[String] = Seq(
    "m3_pipeline_stats", "d11_butterworth", "e13_bf_score",
    "g2_dense_segment", "mm_media_features", "m5_dense_kernels",
    "minhash_lsh_pairs", "simhash_pairs", "embedding_neardups",
    "i1_distinct_counts", "ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk",
    "ann_ivfpq_topk", "ann_ivfpq_rerank", "ann_ivf_topk_p8",
    "ann_ivfpq_rerank_p8", "ann_index_append", "ann_index_health",
    "ann_filtered_search", "ann_auto_geometry", "dedup_index_health",
    "ann_auto_rerank", "ingest_pipeline", "ingest_pipeline_policy",
    "ann_index_remove", "retention_pipeline", "embdedup_index_health",
    "ingest_pipeline_nofire", "ann_warm_rebuild", "ann_range_search",
    "ann_range_rerank", "ann_auto_topk_fixedq", "ann_auto_rerank_fixedq",
    "ann_ivfpq_topk_fixedq", "mm_phash_neardups", "retention_pipeline_full",
    "mm_frame_pairs")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "fixtures"
    val names = if (args.length > 2) args.drop(2).toSeq else fixtureQueries
    val spark = graft.GraftSession.builder().getOrCreate()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val tmp = Files.createTempDirectory("fixture_gen_").toString
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(outDir, s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      println(s"[fixture] $name -> $outDir/$name.parquet")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
