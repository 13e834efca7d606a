package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (suites run sequentially,
  * `Test / parallelExecution := false`), built from the engine's recipe. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .appName("graft-test")
    // the suites exercise and plan-audit the scoring KERNELS on sf0.001
    // fixtures (500-row corpora), below the production small-corpus
    // cutover — pin the cutover off so the kernel path stays under test;
    // the cutover itself has dedicated fallback cases in BlockedExactSpec
    .config("graft.kernel.minCorpusRows", "0")
    .withExtensions(new graft.plans.GraftExtensions)
    .getOrCreate()
}
