package graft.tools
import org.apache.spark.sql.functions._

/** Fixed-query-set ANN scaling, FIXED vs AUTO geometry: the gate's query
  * set (vec_id % 50 == 0) grows with the corpus, so the gate's sf1/sf0.1
  * ratio conflates more queries with more corpus. Production serves a
  * FIXED query stream against a growing corpus — this probe pins |Q| to
  * the sf0.1 query set (vec_id < 10^7 excludes the scaled copies) and, at
  * each scale, measures IVF-PQ serving under
  *
  *   fixed geometry: nCentroids=16, nProbe=4 (the committed gates) —
  *     probed rows per query = 4·N/16 = N/4, LINEAR in the corpus;
  *   auto geometry:  nCentroids ≈ √N, nProbe ≈ √nCentroids
  *     ([[graft.functions.Similarity.autoGeometry]]) — probed rows
  *     ≈ N^¾, with quantizers trained on a 128-per-centroid sample.
  *
  * It also measures recall@5 of each geometry against the exact
  * brute-force ranking on the same fixed query set, so the sub-linear
  * serving claim carries its recall operating point instead of trading
  * recall away silently. Output: one line per (scale, geometry) with
  * build s / serve s (min-of-2) / recall permille.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder()
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/target/testdata-sf1",
        "/root/repo/target/testdata-sf3")
    for (dir <- dirs) {
      val emb = graft.sources.Tables.embeddings(spark, dir)
      val n = emb.count()
      val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 10000000L)
      // exact truth ONCE per scale (brute force over the fixed |Q|)
      val exactPairs = graft.functions.Similarity.cosineTopK(queries, emb, 5)
        .select(col("q_id"), col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val nQueries = exactPairs.groupBy(_._1).size
      graft.GraftCaches.unpersistAll(blocking = true)

      def measure(tag: String, build: () => (graft.functions.Similarity.IvfPqIndex, Int)): Unit = {
        val t0 = System.nanoTime()
        val (index, nProbe) = build()
        val buildS = (System.nanoTime() - t0) / 1e9
        graft.GraftCaches.unpersistAll(blocking = true)
        def serve(): Double = {
          val t = System.nanoTime()
          graft.functions.Similarity.ivfPqTopKIndexed(queries, index, 5, nProbe)
            .write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t) / 1e9
          graft.GraftCaches.unpersistAll(blocking = true)
          dt
        }
        val serveS = math.min(serve(), serve())
        val served = graft.functions.Similarity
          .ivfPqTopKIndexed(queries, index, 5, nProbe)
          .select(col("q_id"), col("c_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        graft.GraftCaches.unpersistAll(blocking = true)
        val recallPm = served.count(exactPairs.contains) * 1000L / (5L * nQueries)
        println(f"PROBE $dir N=$n |Q|=$nQueries $tag build=$buildS%.2fs " +
          f"serve=$serveS%.2fs recall_permille=$recallPm")
        graft.GraftCaches.releaseArtifacts(blocking = true)
      }

      measure("fixed nc=16 np=4", () =>
        (graft.functions.Similarity.buildIvfPqIndex(emb,
          nCentroids = 16, coarseIters = 1, m = 16, ksub = 32, pqIters = 1), 4))
      val (ncAuto, npAuto) = graft.functions.Similarity.autoGeometry(n)
      measure(s"auto nc=$ncAuto np=$npAuto", () =>
        graft.functions.Similarity.ivfPqAutoIndexFor(emb))
    }
    spark.stop()
  }
}
