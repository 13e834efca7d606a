package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftCaches, SparkEntry}

/** The harness's own sinks. [[Attribution]] charges jobs whose innermost
  * user frame is here to `SparkEntry`: they run a gate's final plan. */
object Ops {
  /** The timed sink, as `graft.Bench` materializes a gate. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The warm-up sink: the same plan, kept on disk for the output check. */
  def dump(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)
}

/** Counts ERROR (and FATAL) log events, whoever logs them. */
final class ErrorCounter extends AbstractAppender(
    "perfbench-errors", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) count.incrementAndGet()
}

/** One timed op: latency from the call to the sink's return, cached bytes
  * sampled before release, and the release's own time. */
final case class OpRecord(name: String, latencyS: Double, error: Option[String],
    cacheMb: Double, releaseS: Double, logErrors: Long)

/** Runs one workload in one process and writes the raw record as JSON;
  * `run.py` turns it into metrics and checks the dumped outputs.
  *
  * Args: --workload --seed --seconds --trace 0|1 --data <sf dir>
  * --run-dir <per-run scratch> --out <json> --spans <jsonl> --t0-ms
  * <launch time> --cores <N>. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = a("data")
    val runDir = a("run-dir")
    val cores = a("cores").toInt
    val t0Ms = a("t0-ms").toLong

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$runDir/checkpoints")
    // as graft.Bench: releasing a local checkpoint WARNs once per RDD
    Configurator.setLevel("org.apache.spark.rdd", Level.ERROR)
    val errors = new ErrorCounter
    errors.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(errors, Level.ERROR, null)
    ctx.updateLoggers()
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3

    // a traced run also traces setup, which charges the setup steps' jobs
    // to modules; it is off again for the warm-up and untraced phases
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    val marks = mutable.ArrayBuffer[Mark]()
    val steps = SparkEntry.benchSetup.filter { case (n, _) => w.setup.contains(n) }.map {
      case (name, fn) =>
        val s = System.currentTimeMillis()
        fn(spark, data)
        val e = System.currentTimeMillis()
        marks += Mark(0L, "step", name, s, e)
        name -> (e - s) / 1e3
    }

    val stream =
      if (w.ops.isEmpty) Some(new StreamRun(spark, data, runDir, seed))
      else None
    val streamStart = System.currentTimeMillis()
    stream.foreach { s => s.prepare(); s.start() }
    val streamEnd = System.currentTimeMillis()
    if (stream.isDefined) marks += Mark(0L, "step", "stream", streamStart, streamEnd)
    val streamS = (streamEnd - streamStart) / 1e3
    tracer.foreach(_.stop())
    /** A gate op: build the gate's frame, then sink it. */
    def gate(name: String, sink: DataFrame => Unit): () => Unit = {
      val fn = SparkEntry.queries(name)
      () => sink(fn(spark, data))
    }
    def pass(index: Int): Seq[String] = {
      val rnd = new scala.util.Random(seed * 1000003L + index)
      rnd.shuffle(w.ops)
    }

    var rddsPeak = 0L
    var memPeak = 0.0
    var opId = 0L
    def runOp(name: String, body: () => Unit, op: Long, trace: Boolean): OpRecord = {
      val e0 = errors.count.get()
      val s = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val err =
        try { body(); None }
        catch { case t: Throwable =>
          Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}") }
      val lat = (System.nanoTime() - n0) / 1e9
      val e = System.currentTimeMillis()
      val infos = spark.sparkContext.getRDDStorageInfo
      val cacheMb = infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
      if (trace) {
        rddsPeak = math.max(rddsPeak, infos.count(_.numCachedPartitions > 0).toLong)
        memPeak = math.max(memPeak, infos.map(_.memSize).sum / 1048576.0)
      }
      val r0 = System.nanoTime()
      val rs = System.currentTimeMillis()
      GraftCaches.unpersistAll(blocking = true)
      val rel = (System.nanoTime() - r0) / 1e9
      if (trace) {
        marks += Mark(op, "op", name, s, e)
        marks += Mark(op, "release", "cache.release", rs, System.currentTimeMillis())
      }
      OpRecord(name, lat, err, cacheMb, rel, errors.count.get() - e0)
    }
    // warm-up: one untimed pass, gate outputs dumped for the checks; or the
    // stream's first StreamRun.warmupBatches micro-batches
    val warmStart = System.currentTimeMillis()
    val warmup = stream match {
      case Some(s) => Iterator.continually(s.nextBatch()).take(StreamRun.warmupBatches).flatten
        .map { case (n, body) => runOp(n, body, 0L, trace = false) }.toSeq
      case None => pass(-1).map(n =>
        runOp(n, gate(n, df => Ops.dump(df, s"$runDir/out/$n")), 0L, trace = false))
    }
    val warmupS = (System.currentTimeMillis() - warmStart) / 1e3
    val setupEnd = System.currentTimeMillis()
    marks += Mark(0L, "setup", "setup", t0Ms, setupEnd)
    val setupS = (setupEnd - t0Ms) / 1e3

    /** Whole passes (gates) or micro-batches (stream): at least two, so a
      * run has samples on both sides of its median, then more only while
      * the next one would end nearer `seconds` than stopping now. Every
      * run of a gate workload so times the same multiset of ops, and the
      * sample count does not flip with a few percent of pass length. */
    def timedPhase(trace: Boolean): (Seq[OpRecord], Double) = {
      val recs = mutable.ArrayBuffer[OpRecord]()
      val n0 = System.nanoTime()
      def elapsed = (System.nanoTime() - n0) / 1e9
      var unit = 0.0
      var units = 0
      def more = units < 2 || elapsed + unit / 2 < seconds
      stream match {
        case Some(s) =>
          var next = if (more) s.nextBatch() else None
          while (next.isDefined) {
            val b0 = elapsed
            opId += 1
            recs += runOp(next.get._1, next.get._2, opId, trace)
            unit = elapsed - b0
            units += 1
            next = if (more) s.nextBatch() else None
          }
        case None =>
          while (more) {
            val p0 = elapsed
            pass(units).foreach { n => opId += 1; recs += runOp(n, gate(n, Ops.sink), opId, trace) }
            unit = elapsed - p0
            units += 1
          }
      }
      (recs.toSeq, elapsed)
    }

    val (untraced, untracedWall) = timedPhase(trace = false)
    val tracedOut = tracer.map { tracer =>
      tracer.start()
      val phaseStart = marks.size
      val (recs, wall) = timedPhase(trace = true)
      tracer.stop()
      val (spans, layers) = tracer.report(marks.drop(phaseStart).toSeq ++
        marks.take(phaseStart).filter(m => m.kind == "setup" || m.kind == "step"),
        cores, wall * 1e3, (rddsPeak, memPeak))
      (recs, wall, spans, layers)
    }
    // untraced again after the traced phase: the tracing overhead compares
    // the two, since the first untraced phase is still measurably colder
    val after = if (traced) Some(timedPhase(trace = false)) else None

    val checkStart = System.currentTimeMillis()
    val streamCheck = stream.map { s => s.stop(); s.check() }
    val checkS = (System.currentTimeMillis() - checkStart) / 1e3
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => w.ops.contains(k) }
    GraftCaches.unpersistAll(blocking = true)
    GraftCaches.releaseArtifacts(blocking = true)
    val logErrors = errors.count.get()
    spark.stop()

    tracedOut.foreach { case (_, _, spans, _) =>
      Files.writeString(Paths.get(a("spans")), spans.sortBy(s => (s.start, s.id))
        .map(json.writeValueAsString).mkString("", "\n", "\n"))
    }
    def phase(rs: Seq[OpRecord], wall: Double) = ListMap("wall_s" -> wall, "ops" -> rs)
    val out = ListMap(
      "workload" -> w.name, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupS, "session_s" -> sessionS, "stream_s" -> streamS, "warmup_s" -> warmupS,
      "setup_steps" -> ListMap(steps: _*),
      "warmup" -> warmup,
      "untraced" -> phase(untraced, untracedWall),
      "traced" -> tracedOut.map { case (rs, wall, _, layers) =>
        phase(rs, wall) + ("layers" -> ListMap(layers.toSeq.sortBy(_._1): _*)) },
      "untraced_after" -> after.map { case (rs, wall) => phase(rs, wall) },
      "log_errors" -> logErrors, "stream_check_s" -> checkS,
      "rss_peak_mb" -> vmHwmMb(),
      "oracle_sql" -> ListMap(oracle.toSeq.sortBy(_._1): _*),
      "stream_check" -> streamCheck.map { case (ok, msg) => ListMap("ok" -> ok, "detail" -> msg) })
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(out))
  }

  /** Case-class fields as snake_case keys (`latencyS` → `latency_s`),
    * `None` as null. */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
