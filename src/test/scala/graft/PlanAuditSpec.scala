package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression tests for PHYSICAL-PLAN hygiene (the manual `graft.Explain`
  * audit, automated): column pruning reaches the scan, top-k compiles to
  * TakeOrderedAndProject, dims broadcast, and no accidental cartesian
  * products appear anywhere. These are the properties that decide whether
  * a plan survives a 100x scale-up, independent of row-level correctness.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q1: scan prunes to the five referenced lineitem columns") {
    val plan = planOf("q1_pricing_summary")
    assert(plan.contains("l_quantity") && !plan.contains("l_shipdate"),
      "unused columns must not reach the scan")
    assert(plan.contains("HashAggregate"))
  }

  test("h1/h2: sort+limit fuses into TakeOrderedAndProject (no global sort)") {
    assert(planOf("h1_topk_avg").contains("TakeOrderedAndProject"))
    assert(planOf("h2_latest_events").contains("TakeOrderedAndProject"))
  }

  test("j1: all four dimension joins broadcast; fact side never shuffles pre-agg") {
    val plan = planOf("j1_revenue_by_nation")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
    assert(!plan.contains("SortMergeJoin"), "dims must broadcast, not sort-merge")
  }

  test("ann_cosine_topk: blocked kernel directly over the unshuffled corpus scan") {
    val plan = planOf("ann_cosine_topk")
    // the exact tier scores through the BlockedExact mapPartitions kernel:
    // no join operator materializes |Q|x|C| scored pairs, and nothing may
    // shuffle the corpus BELOW the kernel — the only exchanges are the
    // k-bounded merge and the output sort
    assert(plan.contains("MapPartitions"), "exact tier lost the blocked kernel")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "exact scoring must not materialize the |Q|x|C| pair set as join rows")
    val belowKernel = plan.substring(plan.indexOf("MapPartitions"))
    assert(!belowKernel.contains("Exchange"),
      "the corpus must reach the kernel unshuffled, straight off the scan")
  }

  test("ANN rankers: no full-window exchange on the scored pair set") {
    // Top-k must be a k-bounded partial aggregation (ObjectHashAggregate
    // over the TopKByScore UDAF), never row_number over a window — the
    // window form shuffles all |Q|x|C| scored pairs at 100 TB.
    for (name <- Seq("ann_cosine_topk", "ann_lsh_topk")) {
      val plan = planOf(name)
      assert(!plan.contains("Window"), s"$name ranks via a window exchange")
      assert(plan.contains("ObjectHashAggregate"), s"$name lost the k-bounded aggregation")
    }
    // ivf serves through the probed kernel: the probe table broadcasts as
    // a cent→queries map (probe selection runs in its own collect job, so
    // no window survives in the served plan), the inverted lists reach
    // the kernel UNSHUFFLED, and ranking stays the k-bounded aggregation.
    val ivf = planOf("ann_ivf_topk")
    assert("\\bWindow\\b".r.findAllIn(ivf).length <= 2, "ivf grew a ranking window")
    assert(ivf.contains("ObjectHashAggregate"), "ivf lost the k-bounded aggregation")
    assert(ivf.contains("MapPartitions"), "ivf lost the probed kernel")
    assert(!ivf.contains("SortMergeJoin"),
      "ivf serving must never sort-merge the corpus")
    // no exchange between the kernel and its scan (the cached index's
    // stored BUILD plan inside InMemoryRelation may carry exchanges —
    // that's build cost, not serving; cut at the scan boundary)
    val ivfBelowKernel = ivf.substring(ivf.indexOf("MapPartitions"))
    val ivfScanAt = Seq("InMemoryTableScan", "FileScan")
      .map(ivfBelowKernel.indexOf).filter(_ >= 0).min
    assert(!ivfBelowKernel.substring(0, ivfScanAt).contains("Exchange"),
      "the inverted lists must reach the kernel unshuffled")
    // pq keeps only the ksub-bounded seed window; scoring must be the
    // broadcast distance-table equi-join + k-bounded aggregation.
    val pq = planOf("ann_pq_topk")
    assert("\\bWindow\\b".r.findAllIn(pq).length <= 2, "pq grew a ranking window")
    assert(pq.contains("ObjectHashAggregate"), "pq lost the k-bounded aggregation")
    assert(!pq.contains("CartesianProduct"),
      "pq scoring must equi-join codes to the broadcast table, never cross")
    // ivfpq composes both tiers: probe + seed windows only (each constant-
    // bounded), candidate generation and ADC scoring must stay equi-joins.
    val ivfpq = planOf("ann_ivfpq_topk")
    assert("\\bWindow\\b".r.findAllIn(ivfpq).length <= 3, "ivfpq grew a ranking window")
    assert(ivfpq.contains("ObjectHashAggregate"), "ivfpq lost the k-bounded aggregation")
    assert(!ivfpq.contains("CartesianProduct"),
      "ivfpq must equi-join candidates to codes and the broadcast ADC table")
    assert(!ivfpq.contains("SortMergeJoin"),
      "ivfpq serving must broadcast probes/tables, never sort-merge the corpus")
    // the auto-geometry tier must serve through the IDENTICAL plan shape
    // at the derived (√N, √nc) operating point — deriving the geometry
    // from a corpus count buys nothing if it changes the physical plan
    val auto = planOf("ann_auto_geometry")
    assert("\\bWindow\\b".r.findAllIn(auto).length <= 3, "auto-geometry grew a ranking window")
    assert(auto.contains("ObjectHashAggregate"), "auto-geometry lost the k-bounded aggregation")
    assert(!auto.contains("CartesianProduct") && !auto.contains("SortMergeJoin"),
      "auto-geometry serving must broadcast probes/tables like the fixed tier")
  }

  test("ann_cosine_topk_native: kernel scoring merged through the custom plan-node pair") {
    val plan = planOf("ann_cosine_topk_native")
    assert(plan.contains("GraftTopKPerKeyFinal") && plan.contains("GraftTopKPerKeyPartial"),
      "native ANN ranking lost the custom physical operators")
    // scoring rides the blocked kernel (the plan node demonstrates the
    // MERGE; it must not carry a |Q|x|C| join-row workload to do so)
    assert(plan.contains("MapPartitions"), "native ANN lost the blocked kernel")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "scoring must not materialize the pair set as join rows")
    val belowKernel = plan.substring(plan.indexOf("MapPartitions"))
    assert(!belowKernel.contains("Exchange"),
      "the corpus must reach the kernel unshuffled, straight off the scan")
    assert(!plan.contains("Window"), "native ranking must not fall back to a window")
  }

  test("ann_hard_negatives: blocked kernel scoring, plan-node ranking") {
    val plan = planOf("ann_hard_negatives")
    assert(plan.contains("GraftTopKPerKeyFinal") && plan.contains("GraftTopKPerKeyPartial"),
      "hard-negative ranking lost the custom physical operators")
    // scoring rides the label-aware blocked kernel (the different-label
    // predicate runs INSIDE it — same-label candidates never reach the
    // heap), so no join operator and no corpus shuffle below the kernel
    assert(plan.contains("MapPartitions"), "hard negatives lost the blocked kernel")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "scoring must not materialize the pair set as join rows")
    val belowKernel = plan.substring(plan.indexOf("MapPartitions"))
    assert(!belowKernel.contains("Exchange"),
      "the corpus must reach the kernel unshuffled, straight off the scan")
    assert(!plan.contains("Window"), "ranking must not fall back to a window")
  }

  test("minhash_incremental: serves from the cached standing catalog, never re-derives it") {
    // the whole point of the standing dedup index: the incremental plan
    // must READ the artifact-cached bucket/shingle frames (InMemory scan),
    // not re-run the corpus staging/signature pipeline per batch
    val plan = planOf("minhash_incremental")
    assert(plan.contains("InMemoryTableScan"),
      "incremental dedup must scan the cached catalog, not recompute it")
    assert(!plan.contains("CartesianProduct"),
      "candidates must come from bucket equi-joins")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("minhash_incremental: verification reads the standing shingle cache once, explodes no shingles") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.functions.col
    import graft.functions.Dedup
    val plan = SparkEntry.queries("minhash_incremental")(spark, dir)
      .queryExecution.executedPlan
    // the gate's standing index, from the build-once memo
    val docs = graft.sources.Tables.documents(spark, dir)
    val index = Dedup.dedupIndexFor(docs.filter(col("doc_id") % 5 =!= 0),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val staged = index.staged.queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r.cacheBuilder }.get
    val helper = new AdaptiveSparkPlanHelper {}
    // walks the operators only (not the plans inside the cached
    // relations, whose band explode ran when they were filled)
    val shingleExplodes = helper.collect(plan) {
      case g: GenerateExec
          if g.generator.references.exists(_.name == "__sh") => g
    }
    assert(shingleExplodes.isEmpty,
      s"verification explodes shingle arrays:\n$plan")
    val stagedScans = helper.collect(plan) {
      case s: InMemoryTableScanExec if s.relation.cacheBuilder eq staged => s
    }
    assert(stagedScans.size == 1,
      s"the standing staged cache is scanned ${stagedScans.size} times:\n$plan")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("leakage_safe_split: leak count broadcasts; no sort-merge on the doc join") {
    val plan = planOf("leakage_safe_split")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "cluster map / leak scalar must broadcast")
    assert(!plan.contains("CartesianProduct"),
      "the single-row leak frame must broadcast-cross, never cartesian")
  }

  test("quality_quantiles: weighted percentile over a histogram, never raw value lists") {
    // plain percentile() buffers every group member; the histogram
    // pre-aggregation partial-aggregates map-side and bounds the buffer at
    // the distinct-value count
    val plan = planOf("quality_quantiles")
    assert(plan.contains("partial_count"),
      "histogram stage lost map-side partial aggregation")
    assert(!plan.contains("collect_list"), "quantiles must not collect raw values")
  }

  test("hot scan paths stay inside WholeStageCodegen") {
    // the brief's codegen rule: map-side pipelines must not fall out of
    // codegen (a CodegenFallback expression in the hot path interprets
    // per row at 100 TB). AQE only applies codegen per executed stage, so
    // materialize first and read the final plan (codegen'd operators
    // carry the `*(n)` prefix).
    for (name <- Seq("text_analysis", "d1_windowing", "d1_windowing_expr",
        "c1_metadata_projection", "lang_id", "corpus_split", "sql_graft_functions")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize THIS df's adaptive plan (write() would clone it)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
        s"$name fell out of codegen:\n${plan.take(600)}")
    }
  }

  test("no query plans a CartesianProduct") {
    // cartesian = quadratic blow-up at scale; the only nested-loop joins
    // allowed are broadcast ones (tiny side)
    SparkEntry.queries.keys.foreach { name =>
      val plan =
        try planOf(name)
        catch { case _: Throwable => "" } // iterative queries run jobs at plan time
      assert(!plan.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  // ---- unpartitioned-Window audit -----------------------------------
  // A WindowExec with an empty partitionSpec funnels EVERY row through
  // one task. The only acceptable form is one whose input is PROVABLY
  // row-bounded — and the proof is structural, not a comment: walking
  // down from the window through non-expanding unary operators, a
  // limit-type node (Global/LocalLimit, TakeOrderedAndProject,
  // CollectLimit) must appear before anything that could carry
  // data-sized row counts (scan, join, aggregate, Generate/Expand).
  // Current instances that satisfy it: zipf_fit's rank over the
  // limit(topN) vocab frame; the PQ codebook seed numbering over
  // limit(ksub) rows (training-time — second test below).
  import org.apache.spark.sql.execution.{SparkPlan, GlobalLimitExec, LocalLimitExec,
    TakeOrderedAndProjectExec, CollectLimitExec, GenerateExec, ExpandExec}
  import org.apache.spark.sql.execution.window.WindowExec
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

  private def globalWindows(p: SparkPlan): Seq[WindowExec] = {
    val here = p match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case q: QueryStageExec => Seq(q.plan)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case o => o.children
    }
    here ++ kids.flatMap(globalWindows) ++ p.subqueries.flatMap(globalWindows)
  }

  /** True iff every row path into `p` passes a limit before any
    * data-sized operator — the structural constant-row-bound proof. */
  private def limitBounded(p: SparkPlan): Boolean = p match {
    case _: GlobalLimitExec | _: LocalLimitExec
       | _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
    case _: GenerateExec | _: ExpandExec => false // row-expanding
    case q: QueryStageExec => limitBounded(q.plan)
    case i: InMemoryTableScanExec => limitBounded(i.relation.cachedPlan)
    case u if u.children.size == 1 => limitBounded(u.children.head)
    case _ => false // scan / join / leaf: data-sized
  }

  test("every unpartitioned Window in a final plan is structurally limit-bounded") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val wins =
        try globalWindows(fn(spark, dir).queryExecution.executedPlan)
        catch { case _: Throwable => Nil } // iterative queries run jobs at plan time
      wins.foreach { w =>
        assert(limitBounded(w.child),
          s"$name plans an unpartitioned Window over a DATA-SIZED input — " +
            s"partition it or bound it with a limit:\n${w.toString.take(400)}")
      }
    }
  }

  test("training-time plans (index builds) carry no unbounded global window either") {
    // ANN index training executes eagerly at query-construction time
    // (Lloyd rounds via localCheckpoint), so its plans never appear in
    // the final serving plan the sweep above reads. A listener captures
    // every execution triggered while the training-heavy queries build
    // and runs the same structural proof on each (the PQ seed numbering
    // — row_number over limit(ksub) rows — must stay bounded).
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val offenders = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val captured = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val gs = globalWindows(qe.executedPlan)
        if (gs.nonEmpty) captured.addAndGet(gs.length)
        gs.filterNot(w => limitBounded(w.child))
          .foreach(w => offenders.add(s"$funcName: ${w.toString.take(300)}"))
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      GraftCaches.releaseArtifacts() // force a fresh index build
      for (name <- Seq("ann_pq_topk", "ann_ivfpq_topk", "ann_ivf_topk"))
        SparkEntry.queries(name)(spark, dir).collect()
      // listener events deliver async — poll until the captures land
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (captured.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally {
      spark.listenerManager.unregister(listener)
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
    assert(captured.get() > 0,
      "listener captured no global window — the PQ seed window vanished; " +
        "re-point this audit at wherever training now numbers its seeds")
    assert(offenders.isEmpty,
      s"unbounded global Window in training plans:\n${offenders.toArray.mkString("\n")}")
  }

  test("the limit-bounded proof itself rejects an unbounded global window (self-check)") {
    // Guard the guard: a deliberately BAD plan — row_number over a raw
    // scan with no limit anywhere — must be found AND judged unbounded,
    // and the good zipf shape (rank over limit(n)) must be found AND
    // judged bounded. If either flips, the audit above has gone vacuous.
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{col, row_number}
    val base = spark.read.parquet(s"$dir/lineitem.parquet")
    val bad = base
      .withColumn("r", row_number().over(W.orderBy(col("l_orderkey"))))
      .queryExecution.executedPlan
    val badWins = globalWindows(bad)
    assert(badWins.nonEmpty, "detector missed a plain global window")
    assert(badWins.forall(w => !limitBounded(w.child)),
      "an unlimited scan-fed global window passed the bound proof")
    val good = base.orderBy(col("l_orderkey")).limit(7)
      .withColumn("r", row_number().over(W.orderBy(col("l_orderkey"))))
      .queryExecution.executedPlan
    val goodWins = globalWindows(good)
    assert(goodWins.nonEmpty, "detector missed the limit-fed global window")
    assert(goodWins.forall(w => limitBounded(w.child)),
      "a limit(7)-fed global window failed the bound proof")
  }

  test("s2_sessionize: both window passes share one key exchange") {
    // lag-flag and prefix-sum use the same (partition, order) spec — Spark
    // must plan ONE Exchange+Sort feeding two Window operators. A second
    // hash exchange means the specs diverged and the key's history
    // shuffles twice at 100 TB. (Total exchanges: hash for the windows +
    // the aggregate's reuse of it + range for the final ORDER BY.)
    val plan = planOf("s2_sessionize")
    assert("\\bWindow\\b".r.findAllIn(plan).length >= 2, "expected two window ops")
    val hashExchanges = "hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 1, s"sessionize grew $hashExchanges hash exchanges; want 1")
  }

  test("f6_range_join: bucketed equi-join, never a nested-loop range join") {
    // the operator's whole point: the non-equi BETWEEN must ride a bucket
    // equi-key, so no BroadcastNestedLoopJoin may appear
    val plan = planOf("f6_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "range join fell back to a nested-loop theta-join")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), "bucket equi-join missing")
  }

  test("tfidf_topterms: ranks through the custom plan node, tokenizes once") {
    val plan = planOf("tfidf_topterms")
    assert(plan.contains("GraftTopKPerKeyFinal") && plan.contains("GraftTopKPerKeyPartial"),
      "per-doc top-k lost the custom physical operators")
    assert(!plan.contains("Window"), "tfidf ranks via a window exchange")
    assert(plan.contains("InMemoryTableScan"),
      "shared tf frame must be persisted (corpus tokenized once, not per branch)")
  }

  test("unigram_surprisal: scoring joins the compact tf frame, not raw tokens") {
    // NOTE on counting: InMemoryTableScan PRINTS its cached subtree, so
    // the explode text appears once per cache reader — count the readers,
    // not the explode. Both the model rollup and the scoring join must
    // read the persisted tf frame (≥2 scans), which is what guarantees
    // the corpus is tokenized once.
    val plan = planOf("unigram_surprisal")
    assert("InMemoryTableScan".r.findAllIn(plan).length >= 2,
      "model and scoring branches must both read the persisted tf frame")
  }

  test("minhash: no hint-forced broadcast of corpus-cardinality frames") {
    // verifyJaccard's per-doc sizes frame has one row per document; a
    // broadcast() hint on it overrides autoBroadcastJoinThreshold and OOMs
    // at 10^9 docs. Joins must stay keyed so AQE picks the strategy.
    val qe = SparkEntry.queries("minhash_lsh_pairs")(spark, dir).queryExecution
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "minhash must not hint-broadcast per-doc frames")
  }

  test("dedup_exact: skew-immune partial aggregation, no window rank") {
    // a hot fingerprint (boilerplate duplicated 10^8 times) lands in one
    // task under row_number-over-window; min() partial-aggregates map-side
    val plan = planOf("dedup_exact")
    assert(!plan.contains("Window"), "dedup_exact ranks over a window")
    assert(plan.contains("partial_min"), "dedup_exact lost map-side partial aggregation")
  }

  test("corpus_curation: skew-immune canonical-id aggregation, no forced broadcasts") {
    // the canonical-id frame has one row per distinct fingerprint (corpus
    // cardinality at 10^9 docs): the keep-canonical must be a map-side
    // partial min + keyed semi-join AQE sizes itself, never a hint
    val qe = SparkEntry.queries("corpus_curation")(spark, dir).queryExecution
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "corpus_curation must not hint-broadcast corpus-cardinality frames")
    assert(qe.executedPlan.toString.contains("partial_min"),
      "canonical-id selection lost map-side partial aggregation")
  }

  test("minhash: size-ratio prefilter runs before the shingle-intersection join") {
    // the prefilter discards sub-threshold candidates from two cheap size
    // joins; losing it sends every low-J candidate through the expensive
    // intersection stage at scale
    val plan = SparkEntry.queries("minhash_lsh_pairs")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("least(") && plan.contains("greatest("),
      "verifyJaccard size-ratio prefilter missing from the plan")
  }

  test("text_analysis: single projection pipeline, no shuffle before the sort") {
    val plan = planOf("text_analysis")
    // exactly one Exchange: the final presentation sort
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"map-side text analysis must not shuffle; got $exchanges:\n${plan.take(400)}")
  }

  test("quality_repetition: argmin-struct selection, never a per-doc window rank") {
    // top-gram picks are min(struct(-c, gram)) partial aggregations; a
    // Window would shuffle every (doc, gram) row to rank per doc, and a
    // collect_list would buffer a doc's whole gram set
    val plan = planOf("quality_repetition")
    assert(!plan.contains("Window"), "top-gram selection fell back to a window rank")
    assert(plan.contains("partial_min"), "argmin selection lost map-side partial aggregation")
    assert(!plan.contains("collect_list"), "gram lists must never materialize")
    assert(plan.contains("InMemoryTableScan"),
      "staged token/bigram frame must be persisted (corpus tokenized once)")
  }

  test("corpus_chunks: chunk derivation is map-side — no shuffle before the sort") {
    // chunking is transform+explode in place; the only exchange is the
    // presentation sort's range partitioning
    val plan = planOf("corpus_chunks")
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"chunking must not shuffle; got $exchanges:\n${plan.take(400)}")
    assert(plan.contains("Generate"), "chunk explode missing from the plan")
  }

  test("chunk_dup_stats: recurrence rollup partial-aggregates; corpus scanned once") {
    val plan = planOf("chunk_dup_stats")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "chunk-hash recurrence count lost map-side partial aggregation")
    assert(plan.contains("InMemoryTableScan"),
      "chunk frame must be persisted (chunks derive once, feed count + join)")
  }

  test("emb_dim_stats: explode stays map-side; exchange carries dims, not values") {
    // partial aggregation must sit between Generate (posexplode) and the
    // one hash exchange — the exploded stream itself never shuffles
    val plan = planOf("emb_dim_stats")
    assert(plan.contains("Generate"), "posexplode missing")
    assert(plan.contains("partial_avg") || plan.contains("partial_count"),
      "per-dimension stats lost map-side partial aggregation")
    val hashExchanges = "hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 1, s"dim stats grew $hashExchanges hash exchanges; want 1")
  }

  test("source_cap_topk: caps through the custom plan node, not a window") {
    val plan = planOf("source_cap_topk")
    assert(plan.contains("GraftTopKPerKeyFinal") && plan.contains("GraftTopKPerKeyPartial"),
      "per-source cap lost the custom physical operators")
    assert(!plan.contains("Window"), "per-source cap fell back to a window rank")
  }

  test("s4_debounce: one key exchange, filter stays post-window map-side") {
    // lag + filter must ride a single hash exchange on (user, type) — a
    // second hash exchange means the window spec diverged from the key
    val plan = planOf("s4_debounce")
    val hashExchanges = "hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 1, s"debounce grew $hashExchanges hash exchanges; want 1")
  }

  test("emb_quantize: range frame joins back keyed (broadcast), aggregations partial-combine") {
    val plan = planOf("emb_quantize")
    assert(plan.contains("BroadcastHashJoin"),
      "per-dim range frame should broadcast back onto the exploded stream")
    assert(plan.contains("partial_min") || plan.contains("partial_avg"),
      "quant error stats lost map-side partial aggregation")
  }

  test("j5/j6: Expand multiplies the base aggregate, never the fact scan") {
    // aggregate-before-expand: between Expand and the parquet scan there
    // must be a HashAggregate (the base rollup); Expand directly over the
    // scan replicates every fact row per grouping set
    for (name <- Seq("j5_cube", "j6_grouping_sets")) {
      val plan = planOf(name)
      val ei = plan.indexOf("Expand")
      val si = plan.indexOf("Scan parquet")
      assert(ei >= 0 && si > ei, s"$name: expected Expand above the scan")
      assert(plan.substring(ei, si).contains("HashAggregate"),
        s"$name: Expand feeds off the raw scan — base aggregate missing")
    }
  }

  test("q3: predicates push to all three scans, top-10 fuses, dims broadcast") {
    val plan = planOf("q3_shipping_priority")
    assert(plan.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]")
      || plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      "segment filter must reach the customer scan")
    assert("LessThan\\(o_orderdate".r.findFirstIn(plan).isDefined,
      "order-date filter must reach the orders scan")
    assert("GreaterThan\\(l_shipdate".r.findFirstIn(plan).isDefined,
      "ship-date filter must reach the lineitem scan")
    assert(plan.contains("TakeOrderedAndProject"), "top-10 must fuse sort+limit")
    assert(plan.contains("BroadcastHashJoin"), "filtered dimension side should broadcast")
  }

  test("q5: date range pushes to the orders scan, region filter to region, no cartesian") {
    val plan = planOf("q5_local_supplier")
    assert("GreaterThanOrEqual\\(o_orderdate".r.findFirstIn(plan).isDefined &&
      "LessThan\\(o_orderdate".r.findFirstIn(plan).isDefined,
      "both date bounds must reach the orders scan")
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      "region filter must reach the region scan")
    assert(plan.contains("BroadcastHashJoin"), "constant dims must broadcast")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the star join must stay all-equi-join")
  }

  test("h6: diversity cap via the plan node, global top-10 fuses, no window") {
    val plan = planOf("h6_diversified_topk")
    assert(plan.contains("GraftTopKPerKeyFinal") && plan.contains("GraftTopKPerKeyPartial"),
      "per-source cap lost the custom physical operators")
    assert(plan.contains("TakeOrderedAndProject"), "global top-10 must fuse sort+limit")
    assert(!plan.contains("Window"), "diversified top-k fell back to a window rank")
  }

  test("corpus_pack: one shard exchange feeds the streaming pack walk") {
    // secondary sort = repartition(shard) + sortWithinPartitions; a second
    // hash exchange means the walk lost its co-location
    val plan = planOf("corpus_pack")
    val hashExchanges = "hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 1, s"packing grew $hashExchanges hash exchanges; want 1")
  }

  test("decontaminate: benchmark side broadcasts, corpus never does") {
    // the shingle containment join is keyed on the shingle; the bench set
    // (the small side) may broadcast, but a corpus-side broadcast or a
    // nested-loop join is a 100-TB failure
    val plan = planOf("decontaminate")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "decontamination must stay an equi-join on the shingle")
  }

  test("c4_filters / pii_redact: map-side column algebra, zero data exchanges") {
    // both are pure per-row transforms — any aggregate or hash exchange
    // means a rule stopped being scan-speed; only the output ORDER BY
    // (range exchange for the gate's determinism) is allowed
    for (name <- Seq("c4_filters", "pii_redact")) {
      val plan = planOf(name)
      assert(!plan.contains("HashAggregate") && !plan.contains("hashpartitioning"),
        s"$name must stay a per-row projection")
      assert(!plan.contains("Window"), s"$name grew a window")
    }
  }

  test("line_dedup: count-then-join, never a window; per-doc regroup keyed") {
    val plan = planOf("line_dedup")
    assert(!plan.contains("Window"), "corpus line counts must not rank via a window")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "line flagging must stay an equi-join on the line")
  }

  test("bm25: df/stats broadcast to the scoring join; top-k fuses; corpus never broadcasts") {
    val plan = planOf("bm25_topk")
    assert(plan.contains("TakeOrderedAndProject"), "top-20 must fuse sort+limit")
    assert(plan.contains("BroadcastHashJoin"), "term df must broadcast")
    assert(!plan.contains("Window"), "bm25 must not rank via a window")
    assert(!plan.contains("SortMergeJoin"),
      "only broadcast joins belong here (df: |queryTerms| rows, stats: 1 row)")
  }

  test("dup_windows: codegen signatures, partial-aggregated counts, keyed flag join") {
    val plan = planOf("dup_windows")
    assert(plan.contains("graft_window_hash_counts"),
      "window fingerprints must pre-aggregate in-row via the codegen RLE expression")
    assert(!plan.contains("Window"), "dup flagging must not use a window")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "flag join must stay keyed on the fingerprint")
  }

  test("w7 stream sink: the batch write body plans no shuffle at all") {
    // foreachBatch writes per-record from the scan partitioning; any
    // exchange inside the batch body would serialize the sink
    import org.apache.spark.sql.functions.col
    val batch = spark.read.format("binaryFile")
      .load("/root/testdata/sf0.001/../sf0.001") // any dir with files
      .select(col("path"), col("content"))
    val plan = batch.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "sink batch body must be exchange-free")
  }

  test("q6: all three predicate families push to the one lineitem scan; no join") {
    val plan = planOf("q6_revenue_delta")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate") &&
      plan.contains("l_discount") && plan.contains("l_quantity"),
      "date band, discount band, and quantity cap must reach the parquet reader")
    assert(!plan.contains("Join"), "Q6 is a single-scan aggregate")
    assert(plan.contains("HashAggregate"), "sum must partial-aggregate map-side")
  }

  test("q4: EXISTS compiles to LEFT SEMI, never materializing matches") {
    val plan = planOf("q4_priority_semijoin")
    assert(plan.contains("LeftSemi"), "EXISTS must plan as a semi join")
    assert(plan.contains("1996"), "the order-date band must push to the orders scan")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"))
  }

  test("funnel: chained conditional MINs — no windows, no per-user event lists") {
    val plan = planOf("funnel_conversion")
    assert(!plan.contains("Window"), "funnel must not rank event histories")
    assert(!plan.contains("collect_list"),
      "funnel must never hold a user's whole history in one row")
    assert(!plan.contains("CartesianProduct"))
  }

  test("quality_classifier: map-side inference — no data shuffle, no join") {
    val plan = planOf("quality_classifier")
    assert(!plan.contains("hashpartitioning"),
      "the score fold must stay map-side (only the gate's range sort may exchange)")
    assert(!plan.contains("Join"), "the weight table is arithmetic, not a lookup join")
  }

  test("hash_sample_per_source: sampling through the plan node, not a window") {
    val plan = planOf("hash_sample_per_source")
    assert(plan.contains("GraftTopKPerKeyPartial") && plan.contains("GraftTopKPerKeyFinal"),
      "per-source sample must be k-bounded before the exchange")
    assert(!plan.contains("Window"), "reservoir selection must not be a window rank")
  }

  test("q18: rollup-then-join-back — HAVING shrinks before any join; top-20 fuses") {
    val plan = planOf("q18_large_orders")
    assert(plan.contains("TakeOrderedAndProject"), "top-20 must fuse, not global-sort")
    assert(plan.contains("HashAggregate"), "quantity rollup must partial-aggregate")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"))
  }

  test("q14: date band pushes to the lineitem scan; part prunes to two columns") {
    val plan = planOf("q14_promo_share")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      "the one-month band must reach the parquet reader")
    assert(plan.contains("p_type") && !plan.contains("p_retailprice"),
      "part must prune to (p_partkey, p_type)")
    assert(!plan.contains("CartesianProduct"))
  }

  test("lang_entropy: map-side column algebra — no data exchange, no join") {
    val plan = planOf("lang_entropy")
    assert(!plan.contains("hashpartitioning"),
      "votes and entropy must compute at scan speed (only the gate's sort exchanges)")
    assert(!plan.contains("Join"))
  }

  test("session_paths: one lead window, fused top-20, no cartesian") {
    val plan = planOf("session_paths")
    assert(plan.contains("TakeOrderedAndProject"), "top-20 must fuse")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      "paths come from a lead window, not self-joins of the event stream")
    assert(!plan.toLowerCase.contains("collect_list"),
      "no per-session array may materialize — lead state is n rows")
  }

  test("orc_partitioned_sink: the flag filter prunes directories, not rows") {
    val plan = planOf("orc_partitioned_sink")
    assert(plan.contains("PartitionFilters") && plan.contains("l_returnflag"),
      "the returnflag predicate must resolve to a directory skip at the ORC scan")
    assert(!plan.contains("PushedFilters: [IsNotNull(l_returnflag)"
      + ", EqualTo(l_returnflag,R)]"),
      "the flag is a partition column — it must not survive as a data filter")
  }

  test("csv_source_roundtrip: one scan, one exchange — quarantine is a group, not a second pass") {
    val plan = planOf("csv_source_roundtrip")
    assert(!plan.contains("Union"),
      "clean and quarantined rows must flow through ONE aggregate, not a union of scans")
    assert(plan.toLowerCase.split("exchange").length <= 3,
      "at most the aggregate exchange + the gate's sort may shuffle")
  }

  test("cdc_merge_upsert: target never shuffles — survivors via broadcast anti-join") {
    val plan = planOf("cdc_merge_upsert")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "the touched-key anti-join must broadcast (the batch side is tiny)")
    assert(!plan.contains("SortMergeJoin"),
      "a shuffle-merge would exchange the whole 100 TB snapshot")
  }

  test("scd2_history: the history side joins broadcast and is never windowed") {
    val plan = planOf("scd2_history")
    assert(plan.contains("BroadcastHashJoin"),
      "closing open versions must broadcast the per-key first-change frame")
    assert(!plan.contains("SortMergeJoin"),
      "a shuffle-merge would exchange the whole history")
    // exactly one Window (batch-side version chaining) may appear
    assert(plan.split("\\bWindow\\b").length - 1 <= 1,
      "only the batch may be windowed — never the history")
  }

  test("zorder_layout: pure bitwise algebra — no join, single aggregation") {
    val plan = planOf("zorder_layout")
    assert(!plan.contains("Join"))
    assert(!plan.toLowerCase.contains("udf"),
      "the bit-spread must stay codegen'd column algebra")
  }

  test("readability / char_entropy: map-side signals — no data exchange, no join") {
    for (name <- Seq("readability", "char_entropy")) {
      val plan = planOf(name)
      assert(!plan.contains("hashpartitioning"), s"$name must compute at scan speed")
      assert(!plan.contains("Join"), s"$name must not join")
    }
  }

  test("q19: the disjunction's per-side projections push to BOTH scans") {
    val plan = planOf("q19_disjunctive")
    assert(plan.contains("GreaterThanOrEqual(l_quantity"),
      "the quantity-band OR must reach the lineitem parquet reader")
    assert(plan.contains("EqualTo(p_brand"),
      "the brand OR must reach the part parquet reader")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q12: ship-year band pushes; priority split is map-side CASE algebra") {
    val plan = planOf("q12_priority_counts")
    assert(plan.contains("l_shipdate"), "date band must reach the scan")
    assert(!plan.contains("Window") && plan.contains("HashAggregate"))
  }

  test("sql_correlated_subquery: decorrelates to aggregate + join, no per-row re-execution") {
    val plan = planOf("sql_correlated_subquery")
    assert(plan.contains("Join"), "the correlated subquery must rewrite to a join")
    assert(plan.contains("HashAggregate"),
      "per-customer average must be one aggregate, not a re-executed subquery")
  }

  test("s7_range_frame: one user-keyed window pass carries both frame aggregates") {
    val plan = planOf("s7_range_frame")
    assert("\\bWindow\\b".r.findAllIn(plan).length <= 1,
      "both RANGE-frame aggregates must share one window operator")
  }

  test("sql_lateral_join: decorrelates — no per-outer-row re-execution") {
    val plan = planOf("sql_lateral_join")
    assert(plan.contains("Join"), "LATERAL must become a join")
    assert(!plan.contains("CartesianProduct"))
  }

  test("json_props: map-side extraction, one keyed aggregate") {
    val plan = planOf("json_props")
    assert(!plan.contains("Join") && plan.contains("HashAggregate"))
    assert(plan.contains("get_json_object") || plan.contains("GetJsonObject"),
      "extraction must be the built-in JSON path expression")
  }

  test("snapshot/leakage/incremental audits: keyed joins only, no cartesian") {
    for (name <- Seq("corpus_snapshot_diff", "split_leakage",
        "semdedup_agreement", "incremental_agg")) {
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name must join on keys, never cross")
      assert(!plan.contains("Window"), s"$name needs no window")
    }
  }

  test("zipf/mixture: vocab top-N fuses; the normalization total broadcasts") {
    val zp = planOf("zipf_fit")
    assert(zp.contains("TakeOrderedAndProject"),
      "vocabulary top-N must fuse, never a global sort of the vocabulary")
    val mw = planOf("mixture_weights")
    assert(mw.contains("BroadcastNestedLoopJoin") || mw.contains("BroadcastExchange"),
      "the 1-row normalization constant must broadcast back")
    assert(!mw.contains("SortMergeJoin"))
  }

  test("TPC-H join family (q2/q7/q8/q9/q20): every dim broadcasts, no cartesian") {
    for (name <- Seq("q2_min_cost_supplier", "q7_volume_shipping",
        "q8_market_share", "q9_product_profit", "q20_part_promotion")) {
      val plan = planOf(name)
      assert(plan.contains("BroadcastHashJoin"), s"$name lost its broadcast dims")
      assert(!plan.contains("CartesianProduct"), s"$name grew a cartesian product")
      assert(!plan.contains("Window"), s"$name needs no window")
    }
  }

  test("q10: revenue aggregates on custkey BEFORE the customer join; top-20 fuses") {
    val plan = planOf("q10_returned_items")
    assert(plan.contains("TakeOrderedAndProject"),
      "ORDER BY + LIMIT 20 must fuse, never a global sort")
    // the rollup keys on the FACT side's o_custkey — proof it runs before
    // the customer join (a post-join rollup would key on customer columns)
    assert(plan.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("o_custkey")),
      "custkey rollup must run on the fact side, before the customer join")
  }

  test("q11: threshold branch REUSES the rollup exchange — one fact scan at runtime") {
    // sf0.01: at sf0.001 the result is empty and AQE collapses the plan
    // to EmptyRelation before any stage materializes
    val df = SparkEntry.queries("q11_important_parts")(spark, "/root/testdata/sf0.01")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      "the global-total branch must reuse the per-part rollup's shuffle stage")
  }

  test("q15: persisted rollup feeds both branches — fact scanned once") {
    val df = SparkEntry.queries("q15_top_supplier")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      "both the max branch and the join branch must read the cached rollup")
    GraftCaches.unpersistAll()
  }

  test("q16: the NOT IN blacklist is a broadcast left anti join") {
    val plan = planOf("q16_part_supplier_counts")
    assert(plan.contains("LeftAnti"), "blacklist must anti-join")
    assert(plan.contains("BroadcastHashJoin"), "both dims must broadcast")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q21: one per-order aggregate replaces EXISTS/NOT EXISTS — no re-scan blowup") {
    val plan = planOf("q21_waiting_suppliers")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 7, s"q21 grew to $scans scans — the EXISTS pair must stay " +
      "collapsed into the shared per-order aggregate (2 lineitem + 2 orders + dims)")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q22: scalar average broadcasts; dormancy is an anti join") {
    val plan = planOf("q22_dormant_customers")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the 1-row global average must broadcast back")
    assert(plan.contains("LeftAnti"), "dormancy must be an anti join")
  }

  test("bloom_decontaminate: sketch probe prunes the corpus side BELOW the confirm join") {
    val plan = planOf("bloom_decontaminate")
    assert(plan.contains("UDF"), "the broadcast Bloom probe must appear in the plan")
    // the probe must filter shingles before they reach the join's exchange
    val lines = plan.linesIterator.toSeq
    val probeLine = lines.indexWhere(l => l.contains("Filter") && l.contains("UDF"))
    val joinLine = lines.indexWhere(_.contains("Join"))
    assert(probeLine >= 0 && joinLine >= 0 && probeLine > joinLine,
      "plans print top-down: the probe filter must sit under the join, on the corpus input")
    assert(!plan.contains("CartesianProduct"))
  }

  test("s8_ewma: newest-k selection rides the custom plan node, never a window") {
    val plan = planOf("s8_ewma")
    assert(plan.contains("GraftTopKPerKeyPartial") && plan.contains("GraftTopKPerKeyFinal"),
      "recent-k selection lost the k-bounded custom operators")
    assert(!plan.contains("Window"), "a window rank would shuffle every event")
  }

  test("j7_window_suite: all seven window expressions share one partition pass") {
    val plan = planOf("j7_window_suite")
    assert("\\bWindow\\b".r.findAllIn(plan).length <= 1,
      "same partition spec + order must plan as a single Window operator")
  }

  test("sql_set_ops: INTERSECT/EXCEPT compile to semi/anti joins, no materialized sets") {
    val plan = planOf("sql_set_ops")
    assert(plan.contains("LeftSemi"), "INTERSECT must become a semi join")
    assert(plan.contains("LeftAnti"), "EXCEPT must become an anti join")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q13: zero-order customers survive — the orders filter stays on the join input") {
    val plan = planOf("q13_order_distribution")
    assert(plan.contains("LeftOuter") || plan.contains("left_outer"),
      "the customer-orders join must stay LEFT OUTER")
    assert(!plan.contains("CartesianProduct"))
  }

  test("markov_transitions: one lead window; totals join back broadcast") {
    val plan = planOf("markov_transitions")
    // the pairs frame is cached, so the window appears only inside
    // InMemoryRelation printouts (the cache builds it ONCE at runtime) —
    // any Window beyond those reprs would be a real second pairing pass
    assert(plan.contains("InMemoryTableScan"),
      "the shared pairs frame must be cached, not recomputed per branch")
    assert("\\bWindow\\b".r.findAllIn(plan).length
        <= "InMemoryRelation".r.findAllIn(plan).length,
      "successor pairing must be a single user-keyed window pass")
    assert(plan.contains("BroadcastHashJoin"),
      "the vocabulary-sized totals frame must broadcast, not shuffle the pairs")
  }

  test("active_users_rolling: dedup-then-fan-out, never a distinct-over-frame") {
    val plan = planOf("active_users_rolling")
    assert("\\bWindow\\b".r.findAllIn(plan).isEmpty,
      "rolling distinct must not plan a window frame")
    assert(plan.contains("Generate"), "the bounded day fan-out (explode) is the scale shape")
    assert(!plan.contains("CartesianProduct"))
  }

  test("copair_topk: per-type totals broadcast; top-k fuses to TakeOrderedAndProject") {
    val plan = planOf("copair_topk")
    assert(plan.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(plan.contains("BroadcastHashJoin"), "vocabulary-sized side totals must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("robust_anomalies: medians frames broadcast back between passes") {
    val plan = planOf("robust_anomalies")
    assert(plan.contains("BroadcastHashJoin"),
      "per-type medians must broadcast onto the events, never shuffle them")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("sim_prefix_join: candidates come from equi-joins only — no dense pair shape") {
    val plan = planOf("sim_prefix_join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the dense all-pairs shape may exist only in the gate's oracle")
  }

  test("fuzzy_blocking: in-block pairing is an equi-join on the block key") {
    val plan = planOf("fuzzy_blocking")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "blocking must prune the pair space before any distance is computed")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "levenshtein must stay the codegen built-in, not a UDF")
  }
}
