package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.GraftCaches
import graft.GraftCaches.GenChain

/** One GENERATION of a standing index — the dedup catalog
  * ([[Dedup.DedupIndex]]), the embedding catalog ([[Dedup.EmbIndex]]),
  * the phash catalog ([[Multimodal.PhashIndex]]) and the IVF-PQ index
  * ([[Similarity.IvfPqIndex]]). A family declares its keyed MEMBER
  * frames ([[StandingIndex.Member]]: name, partition key, sorted or
  * not), its row counter and its generation chain; the lifecycle verbs
  * below are written once over that declaration. Each family keeps only
  * its keying, batch staging, scoring and rebuild policies.
  *
  * The shape is the base-plus-delta generation of a log-structured merge
  * tree (O'Neil et al., 1996): an append is a DELTA generation whose
  * members are lazy unions over the previous generation's caches plus
  * one batch-sized cache per member, collected in `chain`; a compaction,
  * remove or rebuild CUTS a standalone generation (empty chain).
  *
  * LIFECYCLE CONTRACT (stated here once, for all four families):
  *  1. FILL BEFORE RELEASE — a standalone successor's member caches are
  *     filled before the generation it supersedes releases, because a
  *     successor cut from its predecessor's caches (a remove's anti-join
  *     copies) still reads them until it is filled.
  *  2. RELEASE ONLY WHAT THE SUCCESSOR DOES NOT HOLD — a re-banded
  *     catalog shares its predecessor's `staged` frame; the superseded
  *     frames release, the shared one stays.
  *  3. AN APPEND NEVER RELEASES — a delta successor reads every frame of
  *     the superseded generation; its chain releases as one unit at the
  *     next standalone cut.
  * [[StandingIndex.roll]] applies these rules; [[StandingIndex.stepAt]]
  * is the one place a serving stream changes generation.
  *
  * `rows` is the row-keyed first member's count, rolled forward by
  * appends so per-batch policy checks read a field instead of re-scanning
  * the standing frame; `chain` is empty exactly when the members are
  * standalone caches.
  */
trait StandingIndex[T <: StandingIndex[T]] { self: T =>

  /** The family's member layout, in [[memberFrames]] order; the first
    * member is row-keyed (one row per indexed id). */
  def layout: Seq[StandingIndex.Member]
  def memberFrames: Seq[DataFrame]
  def rows: Option[Long]
  def chain: GenChain

  /** The per-row id column every member carries. */
  private[functions] def idCol: String
  /** The id column of the frame [[remove]] takes. */
  private[functions] def removeIdCol: String = idCol
  /** Frames outside the members that a loaded generation must fill too
    * (quantizer state shared by every generation — never chained,
    * never released by a roll). */
  private[functions] def stateFrames: Seq[DataFrame] = Nil
  /** The row count: the rolled counter, or one count when the handle
    * lost it. */
  def rowCount: Long = rows.getOrElse(memberFrames.head.count())
  /** The rows the compaction policy's emptiness arm weighs against the
    * width. */
  private[functions] def densityRows: Long = rowCount
  /** This generation's handle over `frames` (layout order), keeping
    * every non-member field. */
  private[functions] def withMembers(frames: Seq[DataFrame],
      rows: Option[Long], chain: GenChain): T
  /** Family state beyond the members (meta table, quantizers) that
    * [[save]] writes and the family's [[StandingIndex.Family.assemble]]
    * reads back. */
  private[functions] def saveState(path: String): Unit = ()

  private def session: SparkSession = memberFrames.head.sparkSession

  /** Fill this generation's member caches (one job; none when every
    * cache is already filled). */
  def materialize(): Unit = {
    val cold = memberFrames.filterNot(GraftCaches.isFilled)
    if (cold.nonEmpty) GraftCaches.fill(cold: _*)
    ()
  }

  /** Release this generation's member caches and its chain (idempotent;
    * a delta generation's members are uncached unions, so its storage is
    * the chain). Checkpoint-cut members free their blocks too
    * ([[GraftCaches.release]]). */
  def release(blocking: Boolean = false): Unit = {
    memberFrames.foreach(GraftCaches.release(_, blocking))
    chain.release(blocking)
  }

  /** RETENTION DELETE — every member anti-joins the broadcast removal
    * set (deletion events are batch-sized; each member is one scan, no
    * shuffle). Member rows are per-id, so the result is exactly a fresh
    * build over the remaining ids (the `*_index_remove` gates' closed-form
    * oracles). Ids absent from the index are ignored, which keeps
    * tombstone replay idempotent. Returns a standalone, filled
    * generation. */
  def remove(ids: DataFrame): T = GraftCaches.inArtifactScope {
    val rm = broadcast(ids.select(col(removeIdCol).as(idCol)).distinct())
    val frames = memberFrames.map(f =>
      GraftCaches.persistedArtifact(f.join(rm, Seq(idCol), "left_anti")))
    val n = GraftCaches.fill(frames: _*).head
    withMembers(frames, Some(n), GenChain())
  }

  /** COMPACTION — re-cut every member at `partitions` (default the
    * session's shuffle parallelism) on its partition key, sorted within
    * partitions where the layout says so. Appends concatenate partitions
    * and removes leave mostly-empty ones; this merge restores bounded
    * task counts and a flat lineage. Content is untouched and every
    * serve is partition-independent, so compacted serving equals the
    * input's. `durableRoot` (the serving streams) cuts each member
    * through [[GraftCaches.durableCut]] at `durableRoot/<member>`, so the
    * generation stays recoverable after the superseded chain releases;
    * otherwise the cut is a tracked localCheckpoint, whose blocks
    * [[release]] and [[StandingIndex.roll]] free. */
  def compact(partitions: Option[Int] = None,
      durableRoot: Option[String] = None): T =
    GraftCaches.inArtifactScope {
      val n = partitions.getOrElse(session.sessionState.conf.numShufflePartitions)
      val frames = layout.zip(memberFrames).map { case (m, f) =>
        val cut = StandingIndex.cutAt(f, m, n)
        durableRoot.fold(GraftCaches.checkpointed(cut))(root =>
          GraftCaches.durableCut(cut, s"$root/${m.name}"))
      }
      withMembers(frames, rows, GenChain())
    }

  /** COMPACTION POLICY — detector→actuator over [[compact]]. Two arms:
    *
    *  - WIDTH: the widest member exceeds `maxPartitions` (default
    *    [[StandingIndex.WidthFactor]]× the session shuffle parallelism) —
    *    k appended batches cost k× the tasks per probe regardless of data
    *    size.
    *    Target min(natural, bound): landing inside the bound makes the
    *    trigger a fixed point. Planner-side read, job-free while the
    *    member caches are filled (under AQE an emptied cache is re-filled
    *    by the read).
    *  - EMPTINESS (opt-in, `minRowsPerPartition > 0`): removes shed rows
    *    at constant width; fires when the density rows fall below
    *    width · minRowsPerPartition, with the target derived from the
    *    rows (clamp(rows/minRowsPerPartition, 1, min(natural, bound))).
    *
    * Fires only when the target differs from the current width, so
    * repeated evaluation is idempotent; a no-fire returns this handle
    * unchanged. */
  def compactIfFragmented(maxPartitions: Option[Int] = None,
      minRowsPerPartition: Long = 0L,
      durableRoot: Option[String] = None): (T, Boolean) = {
    val natural = session.sessionState.conf.numShufflePartitions
    val bound = maxPartitions.getOrElse(
      math.ceil(StandingIndex.WidthFactor * natural).toInt)
    require(bound >= 1, s"compaction width bound must be ≥ 1, got $bound")
    val width = memberFrames.map(_.rdd.getNumPartitions).max
    val cap = math.min(natural, bound)
    val target =
      if (width > bound) Some(cap)
      else if (minRowsPerPartition <= 0L) None
      else {
        val nRows = densityRows
        if (nRows >= width.toLong * minRowsPerPartition) None
        else Some(math.max(1L, math.min(cap.toLong, nRows / minRowsPerPartition)).toInt)
      }
    target.filter(_ != width) match {
      case Some(t) => (compact(Some(t), durableRoot), true)
      case None => (self, false)
    }
  }

  /** PERSIST this generation to parquet: one directory per member
    * (`path/<member>`) plus the family's own state; any other session
    * loads it with the family's [[StandingIndex.Family.load]] without
    * rebuilding. Loaded serving equals in-memory serving — member
    * columns are storage-exact types and every serve is
    * partition-independent (the `*_index_roundtrip` gates). */
  def save(path: String): Unit = {
    layout.zip(memberFrames).foreach { case (m, f) =>
      f.write.mode("overwrite").parquet(s"$path/${m.name}")
    }
    saveState(path)
  }

  /** The shared tail of every family's delta append: `deltas` (one
    * lineage-bearing artifact cache per member, layout order, fresh
    * ids) fill in one job, each member becomes `member ∪ delta`, the
    * chain collects the base's standalone members (or carries the
    * existing chain) plus the deltas, and `rows` rolls forward by the
    * batch's row count. */
  private[functions] def appended(deltas: Seq[DataFrame]): T = {
    val bn = GraftCaches.fill(deltas: _*).head
    val frames = memberFrames.zip(deltas).map { case (f, d) => f.unionByName(d) }
    val base = if (chain.nonEmpty) chain else GenChain(memberFrames)
    withMembers(frames, Some(rows.fold(frames.head.count())(_ + bn)),
      base ++ deltas)
  }
}

object StandingIndex {

  /** One keyed member frame of a family's layout: its directory name in a
    * saved index and durable cut, the partition key a compaction re-cuts
    * it on, and whether it is also sorted within partitions on that key
    * (a sorted member is re-cut to session width on load too). */
  final case class Member(name: String, keys: Seq[String],
      sorted: Boolean = false)

  private def cutAt(df: DataFrame, m: Member, partitions: Int): DataFrame = {
    val keys = m.keys.map(col)
    val cut = df.repartition(partitions, keys: _*)
    if (m.sorted) cut.sortWithinPartitions(keys: _*) else cut
  }

  /** The load side of a family, implemented by its companion. */
  trait Family[T <: StandingIndex[T]] {
    def layout: Seq[Member]

    /** The family's handle over loaded `members` (layout order), with
      * its own state read back from `path`; `rows` is set by [[load]]. */
    private[functions] def assemble(spark: SparkSession, path: String,
        members: Seq[DataFrame]): T

    /** Load a saved generation for serving: members persist in the
      * artifact tier and fill here together with the family's state
      * frames in one job, so serving plans no rebuild and no repeated
      * parquet scans. */
    def load(spark: SparkSession, path: String): T =
      GraftCaches.inArtifactScope {
        graft.plans.GraftFunctions.register(spark)
        val width = spark.sessionState.conf.numShufflePartitions
        val members = layout.map { m =>
          val df = spark.read.parquet(s"$path/${m.name}")
          GraftCaches.persistedArtifact(if (m.sorted) cutAt(df, m, width) else df)
        }
        val ix = assemble(spark, path, members)
        val n = GraftCaches.fill(members ++ ix.stateFrames: _*).head
        ix.withMembers(members, Some(n), GenChain())
      }
  }

  /** The compaction policy's default width bound, as a multiple of the
    * session's shuffle parallelism. */
  private[functions] val WidthFactor: Double = 4.0

  /** Change the generation a serving reference points at, applying the
    * lifecycle contract above:
    *
    *  - a CHAINED successor (an append) is only handed to `set`: it reads
    *    every superseded frame, so nothing releases and no job runs;
    *  - a STANDALONE successor is filled, handed to `set`, and then every
    *    member and chain frame of the `superseded` generations that the
    *    successor does not itself hold releases. */
  def roll[T <: StandingIndex[T]](next: T, superseded: Seq[T])(
      set: T => Unit): Unit =
    if (next.chain.nonEmpty) set(next)
    else {
      next.materialize()
      set(next)
      val held = next.memberFrames
      superseded.flatMap(s => s.memberFrames ++ s.chain.frames)
        .filterNot(f => held.exists(_ eq f))
        .foreach(GraftCaches.release(_))
    }

  /** How a serving stream's [[stepAt]] compacts: the compaction policy's
    * bounds ([[StandingIndex.compactIfFragmented]]) and, for a stream
    * that cuts through durable parquet roots, `durable = (dir, batchId)`
    * — family `f` cuts under `dir/f/b<batchId>`. Without it a cut is a
    * tracked localCheckpoint. */
  final case class Compaction(maxPartitions: Option[Int] = None,
      minRowsPerPartition: Long = 0L, durable: Option[(String, Long)] = None)

  /** [[stepAt]] for a family that serves no operating point: `policy`
    * re-derives the generation (re-band, re-bucket) and says whether it
    * fired; a family without one passes [[unchanged]]. */
  def step[T <: StandingIndex[T]](family: String, superseded: T,
      successor: T, compaction: Compaction)(policy: T => (T, Boolean))(
      set: T => Unit): Unit =
    stepAt[T, Unit](family, superseded, successor, compaction) { ix =>
      val (next, fired) = policy(ix)
      (next, (), fired)
    } { case (ix, _) => set(ix) }

  /** The policy of a family that has none (phash). */
  def unchanged[T](ix: T): (T, Boolean) = (ix, false)

  /** The per-batch MAINTENANCE STEP of every serving stream, for one
    * family — the one place a stream decides and rolls a generation:
    *
    *  1. run the family's `policy` on the grown or shrunk `successor`; it
    *     returns the generation to serve, the operating point to serve it
    *     at (the IVF-PQ index's nProbe) and whether it fired;
    *  2. only when it did not fire, run the compaction policy;
    *  3. [[roll]] the result in through `set`, superseding `superseded`
    *     and `successor`;
    *  4. after a DURABLE compaction cut, prune the family's older cut
    *     roots and the older `b<id>` epochs of `epochDirs` (lineage roots
    *     the family's deltas read): the cut is parquet-rooted, so nothing
    *     live reaches them any more. A policy cut keeps lineage through
    *     the pre-cut chain (recompute may re-read them), so it leaves
    *     pruning to the next compaction cut. */
  def stepAt[T <: StandingIndex[T], P](family: String, superseded: T,
      successor: T, compaction: Compaction, epochDirs: Seq[String] = Nil)(
      policy: T => (T, P, Boolean))(set: ((T, P)) => Unit): Unit = {
    val (derived, point, fired) = policy(successor)
    val root = compaction.durable.map { case (dir, b) => s"$dir/$family/b$b" }
    val (next, compacted) =
      if (fired) (derived, false)
      else successor.compactIfFragmented(compaction.maxPartitions,
        compaction.minRowsPerPartition, root)
    roll(next, Seq(superseded, successor))(ix => set((ix, point)))
    if (compacted) compaction.durable.foreach { case (dir, b) =>
      (s"$dir/$family" +: epochDirs)
        .foreach(pruneEpochs(successor.memberFrames.head.sparkSession, _, b))
    }
  }

  /** Delete epoch-keyed sub-directories `b<id>` of `dir` with id strictly
    * below `cutBatchId` — the storage-reclaim half of a durable
    * compaction cut (without it, survivor epochs accumulated one
    * batch-sized parquet per micro-batch for the life of the stream).
    * Restarted checkpoint-less streams renumber batches from 0 — their
    * stale higher-numbered dirs are left alone (overwrite-idempotent)
    * and fall to the first cut that passes them. */
  private def pruneEpochs(spark: SparkSession, dir: String,
      cutBatchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("b") && name.length > 1 &&
          name.drop(1).forall(_.isDigit) && name.drop(1).toLong < cutBatchId)
        fs.delete(st.getPath, true)
    }
  }
}
