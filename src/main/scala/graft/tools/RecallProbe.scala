package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** RECALL-FLOOR PROBE (VERDICT r8 task 4): the committed auto-geometry
  * point (nProbe = √nc) holds the COST curve (probed rows ~N^¾) but its
  * measured recall decays with corpus growth (150‰ @5 at ×100 —
  * BENCH_sf1.json). This probe measures, at each scale, BOTH operating
  * points over the SAME once-built auto index and the SAME fixed query
  * set (vec_id < 10⁷ pins |Q| to the base queries — the production
  * fixed-stream shape):
  *
  *   auto        — nProbe = √nc            (the committed cost point)
  *   auto_rerank — nProbe = nc^¾ + exact re-rank of a 64-deep shortlist
  *                 ([[Similarity.autoRecallOperatingPoint]]; probed rows
  *                 ~N^(7/8), re-rank cost |Q|·64 — corpus-independent)
  *
  * Output: one `RPROBE` line per (scale, point) with serve s (min-of-2)
  * and recall@5 permille vs the exact brute-force ranking. The committed
  * record (BENCH_RECALL_x30.json) carries the ×1/×10/×30/×100 rows.
  *
  * {{{ sbt "runMain graft.tools.RecallProbe" > /tmp/recallprobe.log }}}
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder()
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/target/testdata-sf1",
        "/root/repo/target/testdata-sf3", "/root/repo/target/testdata-sf100")
    for (dir <- dirs) {
      val emb = graft.sources.Tables.embeddings(spark, dir)
      val n = emb.count()
      val queries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 10000000L)
      val exactPairs = Similarity.cosineTopK(queries, emb, 5)
        .select(col("q_id"), col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val nQueries = exactPairs.groupBy(_._1).size
      graft.GraftCaches.unpersistAll(blocking = true)

      val t0 = System.nanoTime()
      val (index, npAuto) = Similarity.ivfPqAutoIndexFor(emb)
      val buildS = (System.nanoTime() - t0) / 1e9
      graft.GraftCaches.unpersistAll(blocking = true)
      val nc = index.centroids.count().toInt
      val (npDeep, depth) = Similarity.autoRecallOperatingPoint(nc, 5)

      def measure(tag: String, plan: () => org.apache.spark.sql.DataFrame): Unit = {
        def serve(): Double = {
          val t = System.nanoTime()
          plan().write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t) / 1e9
          graft.GraftCaches.unpersistAll(blocking = true)
          dt
        }
        val serveS = math.min(serve(), serve())
        val served = plan().select(col("q_id"), col("c_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        graft.GraftCaches.unpersistAll(blocking = true)
        val recallPm = served.count(exactPairs.contains) * 1000L / (5L * nQueries)
        println(f"RPROBE $dir N=$n |Q|=$nQueries $tag nc=$nc build=$buildS%.2fs " +
          f"serve=$serveS%.2fs recall_permille=$recallPm")
      }

      measure(s"auto np=$npAuto", () =>
        Similarity.ivfPqTopKIndexed(queries, index, 5, npAuto))
      measure(s"auto_rerank np=$npDeep depth=$depth", () =>
        Similarity.ivfPqRerankTopKIndexed(queries, index, 5, depth, npDeep))
      graft.GraftCaches.releaseArtifacts(blocking = true)
    }
    spark.stop()
  }
}
