package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ConfusionAggregator, MaskAlgebra, Relational}

/** Custom Catalyst machinery (SURVEY §7.1 flourishes): codegen'd windowing
  * expression, extension-registered SQL function, literal-lowering
  * optimizer rule, and the single-pass typed confusion aggregator.
  * TestSpark's session is built `.withExtensions(new GraftExtensions)`. */
class CatalystSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("graft_window SQL function matches the functions-composed form") {
    val df = Seq(50.0, 60.0, 100.0, 140.0, 200.0, 95.5).toDF("v")
    df.createOrReplaceTempView("vals")
    val viaSql = spark.sql(
      "SELECT graft_window(v, CAST(100 AS DOUBLE), CAST(80 AS DOUBLE)) AS w FROM vals")
      .as[Long].collect().toSeq
    val viaCols = df.select(
      Relational.windowIntensity(col("v"), lit(100.0), lit(80.0)).as("w"))
      .as[Long].collect().toSeq
    assert(viaSql == viaCols)
    assert(viaSql == Seq(0L, 0L, 127L, 255L, 255L, 113L))
  }

  test("LowerGraftWindow rewrites literal-bound windows to folded built-ins") {
    // use a Range plan: a local Seq collapses to LocalRelation before the
    // optimizer rule could be observed, and alias the output so the
    // auto-generated column name doesn't itself contain "graft_window"
    spark.range(5).selectExpr("CAST(id AS DOUBLE) AS v").createOrReplaceTempView("lower_t")
    val q = spark.sql(
      "SELECT graft_window(v, CAST(100 AS DOUBLE), CAST(80 AS DOUBLE)) AS w FROM lower_t")
    val optimized = q.queryExecution.optimizedPlan.toString
    // after lowering + constant folding the custom node is gone and the
    // window bounds are plan-time literals
    assert(!optimized.contains("graft_window"))
    assert(optimized.contains("60.0")) // folded low = 100 - 80/2
  }

  test("null inputs propagate (nullSafeEval contract)") {
    val out = spark.sql("SELECT graft_window(CAST(NULL AS DOUBLE), 100D, 80D)").head()
    assert(out.isNullAt(0))
  }

  test("lowered plan preserves NULL v (Greatest/Least null-skip guard)") {
    // a nullable column with literal bounds fires LowerGraftWindow; the
    // rewrite must not let Greatest/Least swallow the NULL into a number
    spark.range(3)
      .selectExpr("CASE WHEN id = 1 THEN NULL ELSE CAST(id * 100 AS DOUBLE) END AS v")
      .createOrReplaceTempView("lower_null_t")
    val rows = spark.sql(
      "SELECT graft_window(v, CAST(100 AS DOUBLE), CAST(80 AS DOUBLE)) AS w FROM lower_null_t")
      .collect()
    assert(rows(1).isNullAt(0), "NULL v must stay NULL through the lowered plan")
    assert(rows(0).getLong(0) == 0L && rows(2).getLong(0) == 255L)
  }

  test("graft_cosine rejects non-double arrays at analysis time") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_cosine(array(1, 2), array(3, 4))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_cosine")
      || err.getMessage.toLowerCase.contains("array<double>"),
      s"expected a type error, got: ${err.getMessage.take(200)}")
  }

  test("non-foldable bounds keep the codegen expression (per-row wc/ww)") {
    val df = Seq((90.0, 100.0, 80.0), (90.0, 50.0, 20.0)).toDF("v", "wc", "ww")
    df.createOrReplaceTempView("perrow_t")
    val rows = spark.sql("SELECT graft_window(v, wc, ww) FROM perrow_t").as[Long].collect()
    assert(rows.toSeq == Seq(95L, 255L)) // (90-60)/80*255=95.6→95; 90 clips to high=60→255
  }

  test("graft_simhash (codegen) is bit-identical to the higher-order fold") {
    import graft.functions.Dedup
    import graft.sources.Tables
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .union(Seq((9001L, ""), (9002L, "   "), (9003L, "one"),
        (9004L, "ZzK 42 @@ ZzK")).toDF("doc_id", "text"))
    val fast = Dedup.simHash(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = Dedup.simHashHof(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == hof)
    assert(fast.nonEmpty)
  }

  test("graft_l2sq (codegen) is bit-identical to the higher-order fold") {
    import graft.functions.Similarity
    graft.plans.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 64).map { i =>
      (i.toLong, Seq.fill(8)(rnd.nextDouble() * 2 - 1), Seq.fill(8)(rnd.nextDouble() * 2 - 1))
    }
    val df = vecs.toDF("id", "a", "b")
    val diff = df.select(
      call_function("graft_l2sq", col("a"), col("b")).as("fast"),
      Similarity.l2sqHof(col("a"), col("b")).as("hof"))
      .filter(col("fast") =!= col("hof")).count()
    assert(diff == 0L, "codegen L2² diverges from the HoF fold")
    // zero distance for identical vectors
    val z = df.select(call_function("graft_l2sq", col("a"), col("a")).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(z == 0.0)
  }

  test("GraftFunctions.register: a second call leaves the registry untouched; clones resolve the functions") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.TestSessions
    val fresh = spark.newSession()
    def info(s: org.apache.spark.sql.SparkSession, name: String) =
      s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name))
    assert(info(fresh, "graft_adc_fold").isEmpty,
      "a new session starts without the runtime-only function")
    graft.plans.GraftFunctions.register(fresh)
    val names = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(names.size == 11, s"registered: $names")
    // a re-registration stores a new ExpressionInfo per function
    def untouchedByRegister(s: org.apache.spark.sql.SparkSession): Boolean = {
      val before = names.map(n => info(s, n).get)
      graft.plans.GraftFunctions.register(s)
      names.map(n => info(s, n).get).zip(before).forall { case (a, b) => a eq b }
    }
    val (rules, strategies) = (fresh.experimental.extraOptimizations,
      fresh.experimental.extraStrategies)
    assert(untouchedByRegister(fresh), "a second register re-registered functions")
    assert((fresh.experimental.extraOptimizations eq rules) &&
      (fresh.experimental.extraStrategies eq strategies),
      "a second register touched the extra rules")
    // streams run their micro-batches on a clone of the session
    val clone = TestSessions.cloneOf(fresh)
    assert(untouchedByRegister(clone), "register re-registered functions in a clone")
    val d = clone.sql(
      "SELECT graft_l2sq(array(1.0D, 2.0D), array(1.0D, 0.0D)) AS d").head().getDouble(0)
    assert(d == 4.0)
  }

  test("graft_adc_fold (codegen) is bit-identical to the higher-order fold") {
    graft.plans.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(11)
    // m=16 subspaces, per-sub codebooks of VARYING width (retired
    // codewords shrink a sub's table) — codes index within each width
    val rows = (0 until 64).map { i =>
      val widths = Seq.fill(16)(2 + rnd.nextInt(31))
      val tab = widths.map(w => Seq.fill(w)(rnd.nextLong() % 1000000000L))
      val codes = widths.map(w => rnd.nextInt(w))
      (i.toLong, codes, tab)
    }
    val df = rows.toDF("id", "codes", "tab")
    val hof = "aggregate(sequence(0, size(codes) - 1), 0L, (acc, s) -> " +
      "acc + element_at(element_at(tab, s + 1), element_at(codes, s + 1) + 1))"
    val diff = df.select(
      call_function("graft_adc_fold", col("codes"), col("tab")).as("fast"),
      expr(hof).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0L, "codegen ADC fold diverges from the HoF fold")
    // scala-side reference on one row (guards both engine forms at once)
    val r = rows.head
    val expect = (0 until 16).map(s => r._3(s)(r._2(s))).sum
    val got = df.filter(col("id") === 0L)
      .select(call_function("graft_adc_fold", col("codes"), col("tab")))
      .head().getLong(0)
    assert(got == expect)
  }

  test("graft_window_hash_counts: in-row RLE ≡ explode + groupBy on the raw hashes") {
    graft.plans.GraftFunctions.register(spark)
    val docs = Seq("abcabcabcabc", "xyxyxyxy", "short", "", "aaaaaaaaaa")
      .zipWithIndex.map(_.swap).toDF("i", "t")
    val rle = docs.select(col("i"),
      explode(call_function("graft_window_hash_counts", col("t"), lit(3))).as("p"))
      .select(col("i"), col("p.wh").as("wh"), col("p.n_pos").as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val grouped = docs.select(col("i"),
      explode(call_function("graft_window_hashes", col("t"), lit(3))).as("wh"))
      .groupBy(col("i"), col("wh")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(rle == grouped, s"RLE diverges: ${rle.diff(grouped)} / ${grouped.diff(rle)}")
    assert(rle.nonEmpty)
  }

  test("graft_char_counts: one byte walk ≡ regexp char extraction, sorted order") {
    graft.plans.GraftFunctions.register(spark)
    val docs = Seq("", "aabb42", "Hello, World! 99", "日本語 mixed ascii z9",
      "\t\nz z z", "0123456789abcdefghijklmnopqrstuvwxyz").zipWithIndex
      .map(_.swap).toDF("i", "t")
    val bad = docs.select(
      call_function("graft_char_counts", lower(col("t"))).as("c"),
      regexp_extract_all(lower(col("t")), lit("[a-z0-9]"), lit(0)).as("cs"))
      .select(
        aggregate(col("c"), lit(0L), (a, k) => a + k).as("n1"),
        size(col("cs")).cast("long").as("n2"),
        // histogram order must equal array_sort's char order: rebuild the
        // sorted char list from the histogram and compare
        concat_ws("", flatten(zip_with(
          col("c"),
          split(lit("0 1 2 3 4 5 6 7 8 9 a b c d e f g h i j k l m n o p q r s t u v w x y z"), " "),
          (k, ch) => array_repeat(ch, k.cast("int"))))).as("s1"),
        concat_ws("", array_sort(col("cs"))).as("s2"))
      .filter(col("n1") =!= col("n2") || col("s1") =!= col("s2"))
    assert(bad.count() == 0, bad.collect().mkString("; "))
  }

  test("ConfusionAggregator (single pass) agrees with the relational aggregate") {
    val pairs = Seq((true, true), (true, false), (false, true),
      (false, false), (true, true), (false, false))
    val typed = pairs.toDS().select(new ConfusionAggregator().toColumn).head()
    val relational = MaskAlgebra.confusionMetrics(
      pairs.toDF("p", "g"), Seq(lit(1).as("k")), col("p"), col("g")).head()
    assert(typed.tp == relational.getAs[Long]("tp"))
    assert(typed.fn == relational.getAs[Long]("fn"))
    assert(typed.fp == relational.getAs[Long]("fp"))
    assert(typed.tn == relational.getAs[Long]("tn"))
    assert(typed.dice == relational.getAs[Double]("dice"))
    assert(typed.jaccard == relational.getAs[Double]("jaccard"))
    assert(typed.sensitivity == relational.getAs[Double]("sensitivity"))
    assert(typed.specificity == relational.getAs[Double]("specificity"))
  }

  test("graft_window_hashes: O(n) slide equals the direct per-window fold") {
    import graft.plans.WindowHashesUtil
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefghij0123456789 "
    for (len <- Seq(0, 3, 5, 6, 40, 200); trial <- 0 until 3) {
      val s = (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val u = UTF8String.fromString(s)
      val l = 5
      val got = WindowHashesUtil.hashes(u, l).toLongArray().toSeq
      val want = (0 to len - l).map(i =>
        WindowHashesUtil.direct(UTF8String.fromString(s.substring(i, i + l))))
      assert(got == want, s"slide != direct for len=$len trial=$trial")
      // pack bound: non-negative, < 2^62
      assert(got.forall(h => h >= 0 && h < (1L << 62)))
    }
    // shorter than the window → empty, never a partial window
    assert(WindowHashesUtil.hashes(UTF8String.fromString("abc"), 5).numElements() == 0)
  }

  test("ConfusionAggregator edge rules: both-empty → 1.0, zero denominators → 0") {
    val empty = Seq((false, false), (false, false)).toDS()
      .select(new ConfusionAggregator().toColumn).head()
    assert(empty.dice == 1.0 && empty.jaccard == 1.0 && empty.sensitivity == 0.0)
    val full = Seq((true, true)).toDS().select(new ConfusionAggregator().toColumn).head()
    assert(full.specificity == 0.0)
  }
}
