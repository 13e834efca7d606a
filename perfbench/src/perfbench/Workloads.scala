package perfbench

/** A gate workload: the `SparkEntry.queries` gates it runs and the named
  * `SparkEntry.benchSetup` steps those gates need. `stream_ingest` has no
  * gates; its ops are micro-batches (see [[StreamRun]]). */
final case class Workload(name: String, ops: Seq[String], setup: Seq[String])

object Workloads {

  /** Reference-surface gates: tiny ops where per-op fixed cost (Catalyst,
    * the schema-inference scan in `Tables.table`, job scheduling)
    * dominates. One corpus gate rides along so that a read of a standing
    * artifact is priced too: `phash_incremental`, a serve against the
    * standing phash catalog these setup steps build, whose warm calls run
    * jobs of their own from `Multimodal` and `Dedup`. That catalog is the
    * one standing artifact live during the run. */
  val sliceAnalytics: Workload = Workload("slice_analytics", Seq(
    "a3_volume_slice", "a8_schema_load", "unified_loader", "m3_pipeline_metadata",
    "m3_pipeline_stats", "d4_grayscale", "d8_png_roundtrip", "d10_overlay",
    "d11_butterworth", "e5_argmax", "e13_bf_score", "g1_region_grow_exact",
    "h1_topk_avg", "h2_latest_events", "q1_pricing_summary", "q6_revenue_delta",
    "sql_flagship_readme", "phash_incremental"),
    Seq("mm_media_corpus_build", "phash_index_build"))

  /** Micro-batches into `IngestServing.startIngestStream` over the standing
    * dedup catalog and IVF-PQ index these two steps build on the 80% split:
    * the write side of the standing structures. */
  val streamIngest: Workload =
    Workload("stream_ingest", Nil, Seq("dedup_index_build", "ann_append_base_build"))

  val all: Seq[Workload] = Seq(sliceAnalytics, streamIngest)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name"))
}
