package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line `{"metric":"total","value":...,"queries":
  * {...},"errors":{...},"sf":...}` over `SPARK_GRAFT_SF_DIR`. Each query
  * materializes through the noop sink (count() would let Catalyst prune
  * the measured projections). Two passes per query, min taken —
  * single-pass numbers on a shared VM swing by >10x from CPU steal;
  * min-of-2 reports the engine's cost, not the neighbours'. A sample that
  * THROWS is still timed but tagged in "errors" (name → exception) and its
  * query never folds into the durable ledger — at scale SFs a failing
  * require/OOM must not masquerade as a fast valid sample. Optional args
  * restrict to named queries.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    val selected =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.contains(_)).toMap
      else SparkEntry.queries
    // warm up JIT/codegen/parquet-footer paths so the first timed query
    // isn't charged ~4s of JVM warmup
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // setup phase: vector-path JIT warm-up + built-once artifacts (ANN
    // index). Timed and reported under "setup" — query lines then measure
    // serving, with the build cost visible instead of absorbed by
    // whichever ANN query runs first.
    val setupTimes = SparkEntry.benchSetup.map { case (name, fn) =>
      val t0 = System.nanoTime()
      // a swallowed failure here would silently move the training cost
      // back into whichever ANN query runs first — the exact
      // misattribution this phase exists to prevent; say so loudly
      try fn(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] setup $name FAILED: ${e.getMessage} — " +
          "the first dependent query line will absorb this work")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // A throwing query must be VISIBLE in the record, not a silently
    // recorded failure-path time: at scale SFs an in-gate require or an
    // OOM would otherwise masquerade as a (often suspiciously fast) valid
    // sample and poison the exponent analysis. The sample still reports
    // its duration, tagged with the error.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
      val dt = (System.nanoTime() - t0) / 1e9
      // queries persist shared intermediates (dedup signatures etc.) —
      // drop them so later timings aren't skewed by eviction/GC pressure.
      // BLOCKING: async removal bleeds into the next query's timed region
      GraftCaches.unpersistAll(blocking = true)
      (dt, err)
    }
    // name-sorted execution: Map iteration order reshuffles whenever a
    // query is added, which moves every query's predecessor (and the GC /
    // cache state it inherits) — sorted order keeps round-over-round
    // timings comparable per query.
    // CONTENTION-PROOF RECORDS: min-of-2 reports the engine's cost, not
    // the neighbours' — but when the two back-to-back samples disagree
    // by >2×, that's a shared-VM interference window, and a min alone
    // makes the contended run of ANOTHER record look like a plan
    // regression. So: take a THIRD sample on >2× disagreement, and
    // record {min, max, n} per query — a noisy window is then visible
    // IN the record instead of as an unexplained cross-record delta.
    // disk headroom per query (stderr): a shrinking trend mid-run is the
    // ENOSPC early warning the round-10 incident lacked — the recipe's
    // periodic GC should hold it flat, and this line proves it did
    val localDir = new java.io.File(
      spark.sparkContext.getConf.get("spark.local.dir",
        System.getProperty("java.io.tmpdir")).split(",").head)
    val timed = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      var samples = List(timeOnce(fn), timeOnce(fn))
      if (samples.map(_._1).max / samples.map(_._1).min > 2.0)
        samples = timeOnce(fn) :: samples
      val times = samples.map(_._1)
      System.err.println(f"[bench] $name done; disk headroom " +
        f"${localDir.getUsableSpace / 1073741824.0}%.1f GiB")
      (name, (times.min, times.max, times.length),
        samples.flatMap(_._2).headOption)
    }
    val results = timed.map { case (name, mmn, _) => name -> mmn }
    val errors = timed.collect { case (name, _, Some(msg)) => name -> msg }
    val qs = results.map { case (k, (mn, _, _)) => s"\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, (mn, mx, n)) =>
      f""""$k":{"min":$mn%.6f,"max":$mx%.6f,"n":$n}""" }
      .mkString("{", ",", "}")
    val setup = setupTimes.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "; case c => c.toString } + "\""
    val errJson = errors.map { case (k, m) => s"${jstr(k)}:${jstr(m)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"setup":$setup,"errors":$errJson,"sf":"$sfDir"}""")
    // Durable per-query timing map (name-sorted, one entry per line) — the
    // driver archives only a truncated tail of stdout, which made round-
    // over-round regressions unattributable without tail archaeology.
    // Full sf0.1 runs only: an arg-restricted spot-bench or a smoke run at
    // another SF must not clobber the last complete sf0.1 record.
    if (args.isEmpty && sfDir.contains("sf0.1")) {
      // FOLD, don't overwrite: the record is a min-of-all-runs ledger (n up
      // to ~40 per query). A single noisy run that clobbered it destroyed
      // weeks of samples once (round 9) — so read the prior record and merge:
      // min of mins, max of maxes, n summed; setup floats take the min.
      val path = java.nio.file.Paths.get("bench_queries.json")
      // row shape: (min, max, n, last) — `last` is the MOST RECENT full
      // run's min-of-samples, NOT folded: fold-by-min is the durable
      // contention-proof record, but it masks deliberate current-state
      // costs (e.g. a kernel's fixed overhead a later round removed), so
      // round-over-round comparisons read `last` while scale exponents
      // keep reading `min`.
      val objRe = (""""([^"]+)"\s*:\s*\{\s*"min"\s*:\s*([-0-9.eE]+)\s*,\s*""" +
        """"max"\s*:\s*([-0-9.eE]+)\s*,\s*"n"\s*:\s*(\d+)""" +
        """(?:\s*,\s*"last"\s*:\s*([-0-9.eE]+))?\s*\}""").r
      val prior: Map[String, Either[Double, (Double, Double, Int, Option[Double])]] =
        if (java.nio.file.Files.exists(path)) {
          val text = java.nio.file.Files.readString(path)
          val fltRe = """"(setup:[^"]+)"\s*:\s*([-0-9.eE]+)""".r
          val objs = objRe.findAllMatchIn(text).map(m =>
            m.group(1) -> Right[Double, (Double, Double, Int, Option[Double])](
              (m.group(2).toDouble, m.group(3).toDouble, m.group(4).toInt,
                Option(m.group(5)).map(_.toDouble)))).toMap
          val flts = fltRe.findAllMatchIn(text).map(m =>
            m.group(1) -> Left[Double, (Double, Double, Int, Option[Double])](
              m.group(2).toDouble)).toMap
          objs ++ flts
        } else Map.empty
      // an errored query's samples never enter the ledger — a failure-path
      // duration folded as a "min" would be indistinguishable from a real
      // speedup; its prior record survives via the untouched pass-through
      val errored = errors.map(_._1).toSet
      val mergedQ: Map[String, (Double, Double, Int, Option[Double])] =
        results.filterNot { case (k, _) => errored(k) }.map { case (k, (mn, mx, n)) =>
          prior.get(k) match {
            case Some(Right((pmn, pmx, pn, _))) =>
              k -> ((math.min(pmn, mn), math.max(pmx, mx), pn + n, Some(mn)))
            case _ => k -> ((mn, mx, n, Some(mn)))
          }
        }.toMap
      val mergedS: Map[String, Double] =
        setupTimes.map { case (k, v) =>
          val key = s"setup:$k"
          prior.get(key) match {
            case Some(Left(pv)) => key -> math.min(pv, v)
            case _ => key -> v
          }
        }.toMap
      // preserve record lines this run didn't exercise (renamed/retired
      // queries stay until deliberately pruned; a partial failure must not
      // drop history)
      val untouched = prior.filterNot { case (k, _) =>
        mergedQ.contains(k) || mergedS.contains(k) }
      def objLine(k: String, mn: Double, mx: Double, n: Int,
          last: Option[Double]): String = {
        val lastPart = last.map(v => f""", "last": $v%.6f""").getOrElse("")
        f""""$k": {"min": $mn%.6f, "max": $mx%.6f, "n": $n$lastPart}"""
      }
      val lines =
        (mergedQ.map { case (k, (mn, mx, n, last)) =>
            k -> objLine(k, mn, mx, n, last) } ++
         mergedS.map { case (k, v) => k -> f""""$k": $v%.6f""" } ++
         untouched.map {
           case (k, Right((mn, mx, n, last))) => k -> objLine(k, mn, mx, n, last)
           case (k, Left(v)) => k -> f""""$k": $v%.6f"""
         }).toSeq.sortBy(_._1).map("  " + _._2)
      java.nio.file.Files.writeString(path, lines.mkString("{\n", ",\n", "\n}\n"))
    }
    GraftCaches.releaseArtifacts(blocking = true)
    spark.stop()
  }
}
