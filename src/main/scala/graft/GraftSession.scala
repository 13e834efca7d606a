package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one recipe for a session the engine builds itself — `Bench`,
  * `Verify`, `Explain`, the tool mains and the test suite all start from
  * [[builder]] and add only what is theirs on top (a master override, the
  * Catalyst extensions, a conf):
  *
  * {{{
  *   val spark = GraftSession.builder().getOrCreate()
  *   val withExt = GraftSession.builder()
  *     .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
  * }}}
  *
  * The recipe: `local[n]` with `n` shuffle partitions, `n` from
  * `SPARK_GRAFT_CPUS`, else the host's core count; UTC session time zone
  * (every timestamp gate and oracle is written against UTC); no UI; a
  * periodic driver GC; a codegen cache sized to the engine's working set.
  * `getOrCreate` on the returned builder also sets the WARN log level and
  * quiets the `org.apache.spark.rdd` logger (see [[quiet]]).
  */
object GraftSession {

  /** Entries of Spark's generated-class cache (a static conf: it must be
    * set before the session starts). Both measured working sets are
    * above the default of 100: a `slice_analytics` run compiles about 390
    * classes with it and a stream micro-batch 145–250, most of them
    * identical sources evicted since their last use; with 5000 entries
    * the figures are 160 and 20. */
  private[graft] val CodegenCacheEntries = 5000

  /** A builder holding the recipe; callers add their own settings. */
  def builder(): SparkSession.Builder = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    new SparkSession.Builder {
      override def getOrCreate(): SparkSession = {
        val s = super.getOrCreate()
        quiet(s)
        s
      }
    }
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ENOSPC-proofing (round-10 incident): completed queries' shuffle
      // files are only released when ContextCleaner sees their exchange
      // objects collected, and at multi-GB heaps a full driver GC can be
      // HOURS apart — a long multi-query run accretes dead shuffle spill
      // until the disk fills. Forcing a periodic GC makes the cleaner's
      // cadence a protocol property instead of a babysitting step.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
  }

  /** WARN log level, and the `org.apache.spark.rdd` logger at ERROR:
    * releasing a locally-checkpointed RDD logs a WARN per RDD ("saved
    * blocks cannot be recomputed") from `RDD.unpersist` — intended here
    * (the query is done; the blocks must go), but the flood pushed the
    * bench's result JSON line out of a tail-captured log. The warning is
    * logged under the concrete RDD class, so the whole package is
    * quieted. */
  private def quiet(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel("org.apache.spark.rdd", Level.ERROR)
  }
}
