package graft

/** Plan auditor: prints the formatted physical plan of each named query so
  * scale hygiene is reviewable — filters/projections pushed into the
  * parquet scan (`PushedFilters`/`ReadSchema`), broadcast vs shuffle joins,
  * WholeStageCodegen span coverage, partial/final aggregates.
  *
  * Usage: `runMain graft.Explain <sfDir> [queryName ...]` (no names → all).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder().getOrCreate()
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
