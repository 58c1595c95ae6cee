package graft.operators

import graft.SparkTestBase
import graft.api.RunContext
import graft.config.TransformConfig

/**
 * Algebraic operator properties over the real testdata corpus (SURVEY §5):
 * results must be invariant to physical layout, and composition laws must
 * hold — the properties that make a plan safe to re-partition at 1000×.
 */
class AlgebraicPropertySpec extends SparkTestBase {
  private def ctx = RunContext(spark, "prop", "run")
  private def tc(typ: String, opts: (String, String)*) = TransformConfig("t", typ, opts.toMap)
  private lazy val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

  private def resultSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("aggregation is invariant under repartitioning (map-side combine correctness)") {
    val cfg = tc("aggregation", "groupBy" -> "l_returnflag,l_linestatus",
      "aggregations" -> "q:sum(cast(l_quantity as decimal(12,2))),n:count(*)")
    val base = resultSet(AggregateTransform(li, cfg, ctx))
    resultSet(AggregateTransform(li.repartition(1), cfg, ctx)) shouldBe base
    resultSet(AggregateTransform(li.repartition(17), cfg, ctx)) shouldBe base
    resultSet(AggregateTransform(li.repartition(64, li("l_orderkey")), cfg, ctx)) shouldBe base
  }

  test("filter composition: filter(a) ∘ filter(b) ≡ filter(a AND b)") {
    val a = "l_quantity > 25"; val b = "l_returnflag = 'R'"
    val composed = FilterTransform(
      FilterTransform(li, tc("filter", "condition" -> a), ctx),
      tc("filter", "condition" -> b), ctx)
    val combined = FilterTransform(li, tc("filter", "condition" -> s"($a) AND ($b)"), ctx)
    composed.count() shouldBe combined.count()
    composed.exceptAll(combined).count() shouldBe 0
  }

  test("filter distributes over union; dedup is idempotent") {
    val left = li.filter("l_linenumber = 1"); val right = li.filter("l_linenumber = 2")
    left.createOrReplaceTempView("prop_right_unused")
    val cond = "l_quantity >= 40"
    val filterAfter = FilterTransform(left.unionByName(right), tc("filter", "condition" -> cond), ctx)
    val filterBefore = FilterTransform(left, tc("filter", "condition" -> cond), ctx)
      .unionByName(FilterTransform(right, tc("filter", "condition" -> cond), ctx))
    filterAfter.count() shouldBe filterBefore.count()

    val d1 = DedupTransform(li.select("l_returnflag", "l_linestatus"), tc("dedup"), ctx)
    val d2 = DedupTransform(d1, tc("dedup"), ctx)
    resultSet(d2) shouldBe resultSet(d1)
  }

  test("join with broadcast hint produces identical results to unhinted join") {
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .createOrReplaceTempView("prop_cust")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    def run(bc: String) = resultSet(JoinTransform(orders,
      tc("join", "rightDataset" -> "prop_cust", "joinType" -> "inner",
        "leftKey" -> "o_custkey", "rightKey" -> "c_custkey", "broadcast" -> bc), ctx)
      .select("o_orderkey", "c_name"))
    run("true") shouldBe run("false")
  }

  test("join strategy hints: merge forces SortMergeJoin, results unchanged") {
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .createOrReplaceTempView("prop_cust_h")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    def run(opts: (String, String)*) = JoinTransform(orders,
      tc("join", (Seq("rightDataset" -> "prop_cust_h", "joinType" -> "inner",
        "leftKey" -> "o_custkey", "rightKey" -> "c_custkey") ++ opts): _*), ctx)
      .select("o_orderkey", "c_name")
    val merged = run("hint" -> "merge")
    merged.queryExecution.executedPlan.toString should include ("SortMergeJoin")
    resultSet(merged) shouldBe resultSet(run())
    an[graft.api.ConfigException] should be thrownBy run("hint" -> "nested_loop")
  }

  test("round-6 transforms are invariant under repartitioning") {
    // the partition-safety law that makes each plan safe at 1000×: physical
    // layout must never change results
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def both(df: org.apache.spark.sql.DataFrame,
             f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      resultSet(f(df.repartition(13))) shouldBe resultSet(f(df.coalesce(1)))
    both(li, d => PivotTransform(d, tc("pivot", "groupBy" -> "l_returnflag",
      "pivotColumn" -> "l_linestatus", "values" -> "O,F",
      "aggregations" -> "sum(l_quantity)"), ctx))
    both(docs, d => ChunkTransform(d, tc("chunk", "idColumn" -> "doc_id",
      "textColumn" -> "text", "size" -> "300", "overlap" -> "30"), ctx))
    both(docs, d => TopKTransform(d, tc("topk", "groupBy" -> "lang",
      "scoreColumn" -> "n_chars", "k" -> "7", "idColumn" -> "doc_id"), ctx))
    both(docs, d => ScaleTransform(d, tc("scale", "columns" -> "n_chars",
      "roundTo" -> "6"), ctx).select("doc_id", "n_chars_scaled"))
    both(docs.limit(200), d => graft.functions.TextFunctions
      .tokenEntropy(d, "doc_id", "text"))
  }

  test("round-7 transforms are invariant under repartitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def both(df: org.apache.spark.sql.DataFrame,
             f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      resultSet(f(df.repartition(13))) shouldBe resultSet(f(df.coalesce(1)))
    both(docs, d => AssignIdsTransform(d, tc("assign_ids",
      "orderBy" -> "lang, doc_id", "idName" -> "rid"), ctx)
      .select("doc_id", "rid"))
    // orders: o_orderkey is unique, so (custkey, orderkey) is a total
    // order per key — scd2's documented determinism contract (lineitem's
    // synthetic (orderkey, linenumber) has ties and would violate it)
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_custkey", "o_orderkey", "o_orderstatus")
    both(orders, d => Scd2Transform(d, tc("scd2", "keyColumns" -> "o_custkey",
      "timeColumn" -> "o_orderkey", "compareColumns" -> "o_orderstatus"), ctx))
    both(docs, d => CollocationsTransform(d, tc("collocations",
      "textColumn" -> "text", "k" -> "40", "minCount" -> "5"), ctx))
    docs.where("doc_id < 100").createOrReplaceTempView("prop_r7_ref")
    both(docs, d => DedupAgainstTransform(d, tc("dedup_against",
      "textColumn" -> "text", "referenceView" -> "prop_r7_ref"), ctx)
      .select("doc_id"))
    both(docs, d => {
      d.select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.substring(
            org.apache.spark.sql.functions.col("text"), 1, 20).as("title"))
        .createOrReplaceTempView("prop_r7_titles")
      FuzzyJoinTransform(
        d.select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.substring(
            org.apache.spark.sql.functions.col("text"), 1, 20).as("title")),
        tc("join_fuzzy", "rightDataset" -> "prop_r7_titles",
          "leftColumn" -> "title", "rightColumn" -> "title",
          "maxDistance" -> "1"), ctx)
        .select("doc_id", "r_doc_id", "edit_distance")
    })
  }

  test("minhash jaccard estimates track exact jaccard (signature soundness)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // signature agreement fraction ≈ true jaccard for near-dup docs
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 54).map(i => s"tok$i").mkString(" ") + " x1 x2 x3 x4 x5 x6"
    val docs = Seq((1L, base), (2L, near)).toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
      graft.dedup.Dedup.minhashSignatureFromHashes(
        graft.functions.expressions.ShingleHashes(col("text"), 1), 128).as("sig"))
      .orderBy("doc_id").select("sig").as[Seq[Long]].collect()
    val agree = sigs(0).zip(sigs(1)).count { case (x, y) => x == y } / 128.0
    val exactJ = 54.0 / 66.0 // |∩|=54, |∪|=66
    agree shouldBe exactJ +- 0.15
  }
}
