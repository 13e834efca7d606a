package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.Dedup

/** AUTO-BANDING PROBE (VERDICT r8 task 8): the candidate-count curve of
  * the FIXED committed banding (16 bands × 2 rows) vs [[Dedup.autoBanding]]
  * at ×1/×10/×30 document corpora. What it measures, per (scale, banding):
  *
  *  - `cand`: LSH candidate pairs (the self-join size — THE cost driver
  *    the banding controls; verification work is proportional to it);
  *  - `pairs`: verified pairs at the threshold (recall read: auto must
  *    not silently trade pairs away — the ScaleGen corpus is built so
  *    true pairs scale exactly linearly, ×10 ⇒ 10× pairs);
  *  - `sig`/`total` seconds: signature+banding stage vs end-to-end.
  *
  * The scaled corpora are lexically disjoint per copy (ScaleGen), so the
  * TRUE pair structure is linear by construction and any super-linear
  * candidate growth is background-similarity false-candidate mass — the
  * quantity autoBanding's extra rows-per-band exist to cut.
  *
  * {{{ sbt "runMain graft.tools.BandingProbe" > /tmp/bandingprobe.log }}}
  */
object BandingProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder()
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    graft.plans.GraftFunctions.register(spark)
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/target/testdata-sf1",
        "/root/repo/target/testdata-sf3")
    for (dir <- dirs) {
      val docs = graft.sources.Tables.documents(spark, dir)
      val n = docs.filter(col("text").isNotNull).count()
      val geoms = Seq(
        ("fixed", 32, 16),
        { val (h, b) = Dedup.autoBanding(n, 0.5); ("auto", h, b) })
      for ((tag, numHashes, bands) <- geoms) {
        val t0 = System.nanoTime()
        // the pipeline's own staging (shared shapes with minHashDedupPairs)
        val staged = docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            split(graft.functions.TextAnalysis.normalizeText(col("text")), " ").as("__toks"))
          .select(col("doc_id"), Dedup.shinglesFromTokens(col("__toks"), 3).as("__sh"))
          .persist()
        val sigArr = staged.select(col("doc_id"),
            call_function("graft_minhash_sig", col("__sh"), lit(numHashes)).as("__sig"))
          .persist()
        val sig = sigArr.select(col("doc_id") +:
          (0 until numHashes).map(i => col("__sig")(i).as(s"h$i")): _*)
        val cand = Dedup.lshCandidates(
          Dedup.lshBands(sig, bands, numHashes / bands)).persist()
        val nCand = cand.count()
        val tSig = (System.nanoTime() - t0) / 1e9
        val sh = staged.select(col("doc_id"), explode(col("__sh")).as("shingle"))
        val nPairs = Dedup.verifyJaccard(cand, sh, minJaccard = 0.5)
          .filter(col("jaccard") >= 0.5).count()
        val tAll = (System.nanoTime() - t0) / 1e9
        println(f"BPROBE $dir N=$n $tag H=$numHashes b=$bands r=${numHashes / bands} " +
          f"cand=$nCand pairs=$nPairs sig_s=$tSig%.2f total_s=$tAll%.2f")
        staged.unpersist(); sigArr.unpersist(); cand.unpersist()
        graft.GraftCaches.unpersistAll(blocking = true)
      }
    }
    spark.stop()
  }
}
