package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derive a ×N scaled dataset from the driver's sf0.1 tables for SCALE
  * VALIDATION (VERDICT r6 task 5): all committed evidence is sf0.1, so
  * this produces an sf1-equivalent directory to measure each heavy
  * query's scaling exponent against. TPC-H scaling model: `region`/
  * `nation` stay constant; every other table replicates N× with
  * DETERMINISTIC key offsets (copy k shifts each entity key by
  * k·10⁷), so referential joins (orders⋈lineitem⋈part/supplier,
  * customer⋈orders) stay consistent and selectivities match sf0.1.
  * Document text is made lexically DISJOINT per copy (every word gets
  * a copy suffix): each copy preserves the original's internal near-dup
  * pair structure while sharing zero shingles across copies, so the
  * dup/similarity workload scales exactly linearly — pairs(×10) =
  * 10·pairs(×1). (Mere tail-salting would leave copies ~0.95-similar
  * and hand every doc ~45 cross-copy LSH pairs: a quadratic workload
  * change masquerading as super-linear operator scaling.) Embedding
  * copies k>0 are PERTURBED deterministically (±0.1 per dimension from
  * murmur3(vec_id, dim, copy)): exact clones would make every scaled-
  * corpus query's true top-k its own duplicates, so ANN recall at scale
  * would read a meaningless 1000‰ — perturbation keeps the corpus
  * geometry realistic while serving cost still depends only on corpus
  * size.
  *
  * Output is derived bench scaffolding under target/ (not committed,
  * not read by any correctness gate — the oracles never see it).
  *
  * {{{ sbt "runMain graft.tools.ScaleGen /root/testdata/sf0.1 target/testdata-sf1 10" }}}
  *
  * Optional 4th arg: comma-separated table subset (e.g. `embeddings`) —
  * an embeddings-only ×100 directory for the ANN geometry probe costs
  * ~50 MB instead of replicating lineitem ×100.
  */
object ScaleGen {
  private val OFF = 10000000L

  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "target/testdata-sf1"
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.builder().getOrCreate()

    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None

    def t(name: String) = spark.read.parquet(s"$in/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      if (only.forall(_.contains(name))) {
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"[scalegen] $name -> $out/$name.parquet")
      }
    /** Union N copies, shifting the named key columns by k·OFF each. */
    def rep(df: DataFrame, keys: Seq[String]): DataFrame =
      (0 until n).map { k =>
        keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * OFF)))
      }.reduce(_.unionByName(_))

    write(t("region"), "region")
    write(t("nation"), "nation")
    write(rep(t("customer"), Seq("c_custkey")), "customer")
    write(rep(t("supplier"), Seq("s_suppkey")), "supplier")
    write(rep(t("part"), Seq("p_partkey")), "part")
    write(rep(t("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(rep(t("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(rep(t("events"), Seq("event_id", "user_id")), "events")
    // per-copy word suffix: copy k of a doc shares zero word shingles
    // with copy j≠k, so each copy carries the original near-dup
    // structure and nothing leaks across copies (linear pair growth)
    write((0 until n).map { k =>
      t("documents")
        .withColumn("doc_id", col("doc_id") + lit(k * OFF))
        .withColumn("text",
          if (k == 0) col("text")
          else array_join(
            transform(split(col("text"), " "), w => concat(w, lit(s"q$k"))), " "))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_.unionByName(_)), "documents")
    // copies k>0 perturb each component by a deterministic ±0.1 derived
    // from murmur3(vec_id, dim, copy): no exact clones (which would make
    // scaled-corpus ANN recall degenerate), same corpus size scaling
    write((0 until n).map { k =>
      val base = t("embeddings").withColumn("vec_id", col("vec_id") + lit(k * OFF))
      if (k == 0) base
      else base.withColumn("embedding",
        zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, d) => (x + (pmod(hash(col("vec_id"), d, lit(k)), lit(2001))
            - lit(1000)).cast("float") / lit(10000.0f)).cast("float")))
    }.reduce(_.unionByName(_)), "embeddings")
    spark.stop()
  }
}
