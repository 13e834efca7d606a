package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one build-once memo of the library: every `…For` entry point
  * (`ivfPqIndexFor`, `dedupIndexFor`, `phashIndexFor`, the synthetic
  * media corpora, the kernel-route probes, …) resolves its artifact
  * here, so two equivalent requests in one session share one build.
  *
  * An entry is keyed by the SESSION object (reference equality), the
  * input frame's CANONICALIZED analyzed plan (structural equality — a
  * re-aliased but equivalent plan hits, a different plan misses even if
  * its 32-bit semantic hash collides), the memo `table` the caller
  * names, and the caller's parameters. A build that throws inserts
  * nothing, so a failed build is retried on the next request instead of
  * serving a half-built artifact. Entries drop with
  * [[GraftCaches.releaseArtifacts]], which releases the artifacts they
  * point at; [[hits]] and [[misses]] count lookups since JVM start.
  */
object ArtifactMemo {

  private final case class Key(table: String, session: SparkSession,
      plan: LogicalPlan, params: Seq[Any])

  private val entries = TrieMap.empty[Key, Any]
  private val hitCount = new AtomicLong(0L)
  private val missCount = new AtomicLong(0L)
  GraftCaches.onArtifactRelease(() => entries.clear())

  /** The memoized artifact of `table` for `input` and `params`, built by
    * `build` on a miss. Concurrent misses on one key may both build; the
    * first insert wins and every caller gets it. */
  def apply[T](table: String, input: DataFrame, params: Any*)(build: => T): T = {
    val key = Key(table, input.sparkSession,
      input.queryExecution.analyzed.canonicalized, params.toSeq)
    entries.get(key) match {
      case Some(v) =>
        hitCount.incrementAndGet()
        v.asInstanceOf[T]
      case None =>
        missCount.incrementAndGet()
        val v = build
        entries.putIfAbsent(key, v).getOrElse(v).asInstanceOf[T]
    }
  }

  def hits(): Long = hitCount.get()
  def misses(): Long = missCount.get()
  def size(): Int = entries.size
}
