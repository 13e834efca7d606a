package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.GraftCaches
import graft.functions.Similarity
import graft.sources.Tables

/** Self-check of the call-site → module attribution, on real jobs:
  *
  *  - a `Tables.documents` schema read lands in `sources`;
  *  - a `persistTracked` fill lands in `GraftCaches`;
  *  - a `BlockedExact` kernel job lands in `functions.BlockedExact`;
  *  - a job with no `graft.` frame is reported as `unattributed.task_ms`
  *    and folded into no module.
  *
  * Prints one line per case and exits 1 if any fails.
  * Args: --data <sf dir> --run-dir <scratch>. */
object SelfCheck {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data")
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", s"${a("run-dir")}/local")
      .config("spark.sql.warehouse.dir", s"${a("run-dir")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    /** Runs `body` as one traced op and returns its per-layer metrics. */
    def traced(body: => Unit): Map[String, Double] = {
      val t = new Tracer(spark)
      t.start()
      val s = System.currentTimeMillis()
      body
      val e = System.currentTimeMillis()
      t.stop()
      t.report(Seq(Mark(1L, "op", "case", s, e)), 2, (e - s).toDouble, (0L, 0.0))._2
    }
    def others(m: Map[String, Double], keep: String): Double =
      Attribution.modules.filter(_ != keep).map(x => m(s"$x.task_ms")).sum

    val cases = Seq(
      "frame parsing" -> (() => {
        val line = "app//graft.functions.Dedup$.$anonfun$minHash$1(Dedup.scala:12)"
        val ok = Attribution.frameClass(line) == "graft.functions.Dedup$" &&
          Attribution.moduleOf(s"org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1)\n" +
            s"$line\napp//perfbench.Ops$$.sink(Main.scala:1)").contains("functions.Dedup") &&
          Attribution.moduleOf("app//perfbench.Ops$.sink(Main.scala:1)").contains("SparkEntry") &&
          Attribution.moduleOf("java.lang.Thread.run(Thread.java:1)").isEmpty &&
          Attribution.moduleOfClass("graft.GraftCaches$Persistable$") == "GraftCaches" &&
          Attribution.moduleOfClass("graft.sources.Tables$") == "sources" &&
          Attribution.moduleOfClass("graft.functions.TopK$") == "functions.other"
        (ok, "")
      }),
      "schema read -> sources" -> (() => {
        val m = traced { Tables.documents(spark, data); () }
        (m("sources.jobs") > 0, s"sources.jobs=${m("sources.jobs")}")
      }),
      "persistTracked fill -> GraftCaches" -> (() => {
        import GraftCaches.Persistable
        val m = traced {
          spark.range(0, 20000, 1, 2).selectExpr("id * 7 AS x").persistTracked().count()
          GraftCaches.unpersistAll(blocking = true)
        }
        (m("GraftCaches.jobs") > 0, s"GraftCaches.jobs=${m("GraftCaches.jobs")}")
      }),
      "BlockedExact kernel -> functions.BlockedExact" -> (() => {
        val emb = Tables.embeddings(spark, data)
        val m = traced {
          Ops.sink(Similarity.cosineTopK(emb.filter(col("vec_id") % 50 === 0), emb, 5))
          GraftCaches.unpersistAll(blocking = true)
        }
        (m("functions.BlockedExact.jobs") > 0,
          s"functions.BlockedExact.jobs=${m("functions.BlockedExact.jobs")}")
      }),
      "no graft frame -> unattributed" -> (() => {
        val m = traced { spark.range(0, 20000000L, 1, 2).selectExpr("sum(id % 7)").collect(); () }
        (m("unattributed.task_ms") > 0 && others(m, "") == 0 && m("unattributed.jobs") > 0,
          s"unattributed.task_ms=${m("unattributed.task_ms")} others=${others(m, "")}")
      }))

    val results = cases.map { case (name, run) =>
      val (ok, detail) =
        try run() catch { case t: Throwable => (false, s"threw $t") }
      println(f"${if (ok) "PASS" else "FAIL"}%-4s $name $detail")
      ok
    }
    spark.stop()
    if (!results.forall(identity)) sys.exit(1)
  }
}
