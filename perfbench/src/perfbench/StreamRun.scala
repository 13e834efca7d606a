package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{Dedup, Similarity}
import graft.sources.Tables
import graft.streaming.IngestServing

/** The `stream_ingest` workload: the 20% ingest split (`doc_id % 5 == 0`,
  * documents joined to their embeddings) cut into [[StreamRun.nBatches]]
  * seeded micro-batches and fed, one file at a time, into
  * `IngestServing.startIngestStream` over the standing dedup catalog and
  * IVF-PQ index that the `dedup_index_build` and `ann_append_base_build`
  * setup steps leave in their memos. Closed loop: the next file drops only
  * after the previous batch committed. */
final class StreamRun(spark: SparkSession, data: String, runDir: String, seed: Long) {
  import StreamRun.nBatches

  private val threshold = 0.5
  private val root = Paths.get(runDir, "stream")
  private val staged = root.resolve("staged")
  private val in = root.resolve("in")
  private val pairs = root.resolve("pairs").toString
  private var query: StreamingQuery = _
  private var dropped = 0
  private var batchIds = Map.empty[Int, Seq[Long]]
  private val ingested = scala.collection.mutable.Set[Long]()

  private def ingestSplit: DataFrame =
    Tables.documents(spark, data).select(col("doc_id"), col("text"))
      .join(Tables.embeddings(spark, data)
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
      .filter(col("doc_id") % 5 === 0)

  /** Writes every batch file once, so a drop is a rename. The seed alone
    * decides which batch each ingest doc lands in. */
  def prepare(): Unit = {
    ingestSplit
      .withColumn("b", pmod(xxhash64(col("doc_id"), lit(seed)), lit(nBatches.toLong)))
      .repartition(nBatches, col("b"))
      .write.partitionBy("b").parquet(staged.toString)
    batchIds = spark.read.parquet(staged.toString).select("b", "doc_id").collect()
      .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)).toSeq }
    Files.createDirectories(in)
  }

  def start(): Unit = {
    val dedup = Dedup.dedupIndexFor(
      Tables.documents(spark, data).filter(col("doc_id") % 5 =!= 0),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val ann = Similarity.ivfPqIndexFor(
      Tables.embeddings(spark, data).filter(col("vec_id") % 5 =!= 0),
      nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1)
    query = IngestServing.startIngestStream(spark, in.toString,
      new AtomicReference(dedup), new AtomicReference((ann, 4)),
      threshold = threshold, pairsOutDir = pairs, m = 16, ksub = 32,
      deltaAppends = true)
  }

  private def batchFile(b: Int): Option[Path] = {
    val dir = staged.resolve(s"b=$b")
    if (!Files.isDirectory(dir)) None
    else {
      val files = Files.list(dir)
      try files.filter(_.getFileName.toString.endsWith(".parquet")).findFirst()
        .map[Option[Path]](p => Some(p)).orElse(None)
      finally files.close()
    }
  }

  /** One op: drop the next non-empty batch file and wait for its commit.
    * Returns the batch's name, or None when the split is used up. */
  def nextBatch(): Option[(String, () => Unit)] = {
    var file: Option[Path] = None
    while (file.isEmpty && dropped < nBatches) { file = batchFile(dropped); dropped += 1 }
    file.map { f =>
      val b = dropped - 1
      ingested ++= batchIds.getOrElse(b, Nil)
      (s"batch_$b", () => {
        Files.move(f, in.resolve(f"batch_$b%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
      })
    }
  }

  def stop(): Unit = if (query != null) { query.stop(); query.awaitTermination() }

  /** The StreamingSpec contract: the union of per-batch pair files equals
    * `Dedup.minHashDedupPairs` over the full corpus, restricted to the seen
    * corpus (standing + ingested) and to pairs touching an ingested doc. */
  def check(): (Boolean, String) = {
    val full = Dedup.minHashDedupPairs(
        Tables.documents(spark, data).select(col("doc_id"), col("text")),
        col("doc_id"), col("text"), numHashes = 32, bands = 16,
        threshold = threshold, shingleK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def seen(id: Long): Boolean = id % 5 != 0 || ingested(id)
    val expected = full.filter { case (a, b) =>
      seen(a) && seen(b) && (ingested(a) || ingested(b)) }
    val streamed =
      if (ingested.isEmpty || !Files.isDirectory(Paths.get(pairs))) Set.empty[(Long, Long)]
      else spark.read.parquet(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ok = streamed == expected
    (ok, s"ingested ${ingested.size} docs; ${streamed.size} streamed pairs, " +
      s"${expected.size} expected, ${(expected -- streamed).size} missing, " +
      s"${(streamed -- expected).size} extra")
  }
}

object StreamRun {
  /** About 25 docs a batch at sf0.1. A batch costs about the same at 10
    * docs as at 40 (some 100 jobs either way), and larger batches average
    * out which docs a seed puts together; 16 leaves room for the warm-up
    * batches and the three timed phases of a traced run even at twice
    * today's batch rate. */
  val nBatches = 16

  /** Untimed micro-batches before the first timed one. After a single one
    * the next batch still ran about 10% slower than the one after it, and
    * up to 35% slower while the host was busy, which alone pushed the
    * run-to-run spread of `op_p50_s` and `op_tail_s` past 0.25. */
  val warmupBatches = 2
}
