package graft.operators

import graft.SparkTestBase
import graft.api.{ConfigException, RunContext}
import graft.config.TransformConfig

/** Transformer behavior specs, mirroring the reference's transformer +
  * contract suites (AggregationTransformerSpec golden values, join-type
  * matrix, idempotency, empty-input handling). */
class TransformSpec extends SparkTestBase {
  import spark.implicits._
  private def ctx = RunContext(spark, "test", "run")
  private def tc(typ: String, opts: (String, String)*) = TransformConfig("t", typ, opts.toMap)

  private lazy val sales = Seq(
    ("2024-01-01", "widget", 100.0),
    ("2024-01-01", "widget", 150.0),
    ("2024-01-02", "gadget", 200.0),
    ("2024-01-02", "gadget", 50.0)).toDF("date", "product", "amount")

  test("aggregation: reference golden values (sum=250, avg=125, count=2)") {
    val out = AggregateTransform(sales,
      tc("aggregation", "groupBy" -> "product",
        "aggregations" -> "total_amount:sum(amount),avg_amount:avg(amount),n:count(*)"), ctx)
      .where("product = 'widget'").collect().head
    out.getDouble(out.fieldIndex("total_amount")) shouldBe 250.0
    out.getDouble(out.fieldIndex("avg_amount")) shouldBe 125.0
    out.getLong(out.fieldIndex("n")) shouldBe 2L
  }

  test("aggregation: the 9 reference functions all parse and run") {
    val out = AggregateTransform(sales, tc("aggregation", "groupBy" -> "product",
      "aggregations" -> ("s:sum(amount),a:avg(amount),c:count(amount),mn:min(amount)," +
        "mx:max(amount),f:first(amount),l:last(amount)," +
        "cl:collect_list(amount),cs:collect_set(amount)")), ctx)
    out.columns.toSet shouldBe Set("product", "s", "a", "c", "mn", "mx", "f", "l", "cl", "cs")
    out.count() shouldBe 2
  }

  test("aggregation: global (no groupBy) and validation error on bad column") {
    AggregateTransform(sales, tc("aggregation", "aggregations" -> "n:count(*)"), ctx)
      .collect().head.getLong(0) shouldBe 4L
    AggregateTransform.validate(
      tc("aggregation", "groupBy" -> "nope", "aggregations" -> "n:count(*)"),
      sales.schema) should have size 1
  }

  test("materialize: identity result, upstream expression tower evaluated " +
    "ONCE (not inlined per downstream reference), guided option errors") {
    import org.apache.spark.sql.functions._
    // a BUILT-IN rewrite chain — exactly the class Catalyst freely inlines
    // into every consumer (it never duplicates UDFs, but regexp chains it
    // does: the q154 measurement showed the html_strip tower re-run per
    // Gopher rule and pushed into the scan's DataFilters)
    // parquet-backed, not a local Seq: ConvertToLocalRelation would fold
    // the whole query into a LocalTableScan and hide the plan shape
    val dir = tmpDir("materialize-src")
    sales.write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir).withColumn("txt",
      regexp_replace(regexp_replace(col("product"), "w", "W"), "t$", "T"))
    def consume(df: org.apache.spark.sql.DataFrame) = df
      .where(org.apache.spark.sql.functions.length(col("txt")) > 1)
      .select(col("txt"), upper(col("txt")).as("u"))
    def regexpCount(df: org.apache.spark.sql.DataFrame): Int =
      "regexp_replace".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    // un-barriered: the chain appears multiple times in the physical plan
    // (inlined into the filter AND each projection reference)
    regexpCount(consume(base)) should be > 2
    // barriered: the rewrite happened BEFORE the lineage cut — the
    // downstream plan carries no regexp at all, and results are identical
    val staged = MaterializeTransform(base, tc("materialize"), ctx)
    regexpCount(consume(staged)) shouldBe 0
    consume(staged).collect().map(_.toSeq).sortBy(_.toString) shouldBe
      consume(base).collect().map(_.toSeq).sortBy(_.toString)
    // identity: same rows/schema as the un-barriered frame
    staged.columns shouldBe base.columns
    staged.count() shouldBe base.count()
    // guided errors: bad eager value, unknown options
    (the[ConfigException] thrownBy MaterializeTransform(base,
      tc("materialize", "eager" -> "maybe"), ctx))
      .getMessage should include ("eager")
    (the[ConfigException] thrownBy graft.runtime.PipelineExecutor.applyAll(base,
      Seq(tc("materialize", "mode" -> "local")), graft.runtime.Registries.transforms(), ctx))
      .getMessage should include ("unknown option")
    // streaming frames refuse with a pipeline-level message, not Spark's
    // deep AnalysisException at query start
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    (the[ConfigException] thrownBy MaterializeTransform(
      mem.toDF(), tc("materialize"), ctx))
      .getMessage should include ("micro-batch")
    // eager materializes NOW under a real run (a throwing upstream blows
    // up immediately) but is forced lazy under compose/--dry-run, whose
    // contract is "nothing evaluated at plan time"
    val bomb = udf((s: String) => {
      throw new RuntimeException("boom"); s: String })
    // parquet-backed (NOT the local Seq: ConvertToLocalRelation would
    // evaluate the udf at optimization time and mask the contrast)
    val explosive = spark.read.parquet(dir).withColumn("b", bomb(col("product")))
    an[Exception] should be thrownBy MaterializeTransform(
      explosive, tc("materialize", "eager" -> "true"), ctx)
    // the lazy-under-compose contract rides the ctx.sideEffects flag the
    // executor threads through buildPlan — NOT the runId string, so a
    // caller whose runId happens to be "compose" still gets eager
    noException should be thrownBy MaterializeTransform(
      explosive, tc("materialize", "eager" -> "true"),
      RunContext(spark, "t", "any-run-id", sideEffects = false))
    an[Exception] should be thrownBy MaterializeTransform(
      explosive, tc("materialize", "eager" -> "true"),
      RunContext(spark, "t", "compose", sideEffects = true))
  }

  test("filter: condition semantics + idempotency + empty input") {
    val df = Seq(("alice", 35, "active"), ("bob", 28, "active"), ("carol", 40, "inactive"))
      .toDF("username", "age", "status")
    val cfg = tc("filter", "condition" -> "age > 30 AND status = 'active'")
    val once = FilterTransform(df, cfg, ctx)
    once.select("username").as[String].collect() shouldBe Array("alice")
    FilterTransform(once, cfg, ctx).count() shouldBe once.count() // idempotent
    FilterTransform(df.limit(0), cfg, ctx).count() shouldBe 0     // empty-input safe
  }

  test("map: rename/cast/concat in one projection; missing option throws") {
    val df = Seq(("Ada", "Lovelace", "36")).toDF("first_name", "last_name", "age_str")
    val out = MapTransform(df, tc("map", "project" -> "true",
      "expressions" -> "full_name:concat(first_name, ' ', last_name),age:CAST(age_str AS INT)"), ctx)
    out.columns shouldBe Array("full_name", "age")
    out.collect().head.toSeq shouldBe Seq("Ada Lovelace", 36)
    an[ConfigException] should be thrownBy MapTransform(df, tc("map"), ctx)
  }

  test("saltedJoin: identical result multiset to the plain join; bad types rejected") {
    val probe = Seq((1, "a"), (1, "b"), (1, "c"), (2, "d"), (3, "e")).toDF("k", "pv")
    val build = Seq((1, "X"), (2, "Y")).toDF("k", "bv")
    val plainInner = probe.join(build, Seq("k")).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val saltedInner = Skew.saltedJoin(probe, build, Seq("k"), saltBuckets = 4)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    saltedInner shouldBe plainInner
    val plainLeft = probe.join(build, Seq("k"), "left").collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val saltedLeft = Skew.saltedJoin(probe, build, Seq("k"), 4, "left")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    saltedLeft shouldBe plainLeft
    an[ConfigException] should be thrownBy Skew.saltedJoin(probe, build, Seq("k"), 4, "right")
    an[ConfigException] should be thrownBy Skew.saltedJoin(probe, build, Seq("k"), 0)
  }

  test("saltedJoin spreads BYTE-IDENTICAL hot-key rows across buckets — " +
    "the duplicated-boilerplate case a pure content hash cannot split") {
    val hot = Seq.fill(200)(("hotkey", "same payload")).toDF("k", "pv")
    Seq(("hotkey", 1)).toDF("k", "bv").createOrReplaceTempView("salt_build_dup")
    val out = Skew.saltedJoin(hot,
      spark.table("salt_build_dup"), Seq("k"), saltBuckets = 8)
    out.count() shouldBe 200 // join result itself is unchanged
    // observe the actual salt routing of identical rows
    import org.apache.spark.sql.functions.monotonically_increasing_id
    val salts = hot.withColumn("salt",
      Skew.saltExpr(Seq("k", "pv"), 8, perRow = Some(monotonically_increasing_id())))
      .select("salt").distinct().count()
    salts should be > 1L
  }

  test("saltedJoin: routing is deterministic run-to-run and spreads a hot key") {
    // one hot key (k=1) with 64 distinct payloads
    val probe = (0 until 64).map(i => (1, s"p$i")).toDF("k", "pv")
    def routing() = probe
      .withColumn("salt", Skew.saltExpr(Seq("k", "pv"), saltBuckets = 8))
      .collect().map(r => (r.getString(1), r.getInt(2))).sortBy(_._1).toSeq
    val r1 = routing(); val r2 = routing()
    r1 shouldBe r2                                  // byte-identical reruns
    r1.map(_._2).distinct.size should be > 1        // hot key fans out
    // a different seed re-rolls the assignment
    val r3 = probe.withColumn("salt", Skew.saltExpr(Seq("k", "pv"), 8, seed = 7L))
      .collect().map(r => (r.getString(1), r.getInt(2))).sortBy(_._1).toSeq
    r3 should not be r1
  }

  test("map: duplicate aliases are rejected, not silently last-win") {
    val df = Seq((1, 2)).toDF("a", "b")
    val ex = the[ConfigException] thrownBy MapTransform(df,
      tc("map", "expressions" -> "x:a + 1,x:b + 1"), ctx)
    ex.getMessage should include("duplicate alias")
    // case-INsensitively, matching Spark's default resolution
    an[ConfigException] should be thrownBy MapTransform(df,
      tc("map", "expressions" -> "Price:a + 1,price:b + 1"), ctx)
  }

  test("aggregation: a groupingSets typo is rejected, never a silent plain " +
    "groupBy; windowing rejects empty aggregations with a named error") {
    val sales2 = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
    val ex = the[ConfigException] thrownBy AggregateTransform(sales2,
      tc("aggregation", "groupBy" -> "k", "aggregations" -> "s:sum(v)",
        "groupingSets" -> "CUBE"), ctx)
    ex.getMessage should include("cube|rollup")
    val tdf = Seq(("2024-01-01 00:00:00", 1.0)).toDF("ts", "v")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    val ex2 = the[ConfigException] thrownBy WindowTransform(tdf,
      tc("windowing", "timeColumn" -> "ts", "windowDuration" -> "1 hour",
        "aggregations" -> ""), ctx)
    ex2.getMessage should include("no aggregations")
  }

  test("join: type matrix matches the reference contract") {
    val left = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "lv")
    Seq((2, "x"), (3, "y"), (4, "z")).toDF("id", "rv")
      .createOrReplaceTempView("jt_right")
    def joined(jt: String) =
      JoinTransform(left, tc("join", "rightDataset" -> "jt_right",
        "joinType" -> jt, "joinKeys" -> "id"), ctx)
    joined("inner").count() shouldBe 2
    joined("left").count() shouldBe 3
    joined("right").count() shouldBe 3
    joined("full").count() shouldBe 4
    joined("left_semi").columns shouldBe Array("id", "lv")
    joined("left_anti").select("id").as[Int].collect() shouldBe Array(1)
    an[ConfigException] should be thrownBy joined("sideways")
    // cross takes no keys — a true Cartesian product (previously in the
    // accepted set but unreachable: the no-keys branch always threw)
    JoinTransform(left, tc("join", "rightDataset" -> "jt_right",
      "joinType" -> "cross"), ctx).count() shouldBe 9
  }

  test("window_rank requires partitionBy unless global is opted in; keep " +
    "colliding with a mapped alias is rejected") {
    val d = Seq((1, 10), (2, 20)).toDF("g", "v")
    an[ConfigException] should be thrownBy WindowRankTransform(d,
      tc("window_rank", "orderBy" -> "v desc", "alias" -> "r"), ctx)
    WindowRankTransform(d, tc("window_rank", "orderBy" -> "v desc",
      "alias" -> "r", "global" -> "true"), ctx).count() shouldBe 2
    an[ConfigException] should be thrownBy MapTransform(d,
      tc("map", "project" -> "true", "keep" -> "g",
        "expressions" -> "g:v + 1"), ctx)
  }

  test("join leftKey/rightKey drops right-side duplicate columns keeping left") {
    val left = Seq((1, "L")).toDF("id", "name")
    Seq((1, "R")).toDF("rid", "name").createOrReplaceTempView("jt_right2")
    val out = JoinTransform(left, tc("join", "rightDataset" -> "jt_right2",
      "joinType" -> "inner", "leftKey" -> "id", "rightKey" -> "rid"), ctx)
    out.columns.count(_ == "name") shouldBe 1
    out.select("name").as[String].collect() shouldBe Array("L")
  }

  test("windowing: tumbling buckets with extra group keys (the feature the reference documents but lacks)") {
    val df = Seq(
      ("2024-01-01 10:00:00", "cpu", 1.0), ("2024-01-01 10:05:00", "cpu", 3.0),
      ("2024-01-01 10:15:00", "cpu", 5.0), ("2024-01-01 10:02:00", "mem", 7.0))
      .toDF("t", "metric", "v").selectExpr("CAST(t AS TIMESTAMP) AS ts", "metric", "v")
    val out = WindowTransform(df, tc("windowing", "timeColumn" -> "ts",
      "windowDuration" -> "10 minutes", "groupBy" -> "metric",
      "aggregations" -> "total:sum(v)"), ctx)
    out.columns shouldBe Array("window_start", "window_end", "metric", "total")
    out.count() shouldBe 3 // cpu×2 windows + mem×1
    out.where("metric = 'cpu' AND total = 4.0").count() shouldBe 1
  }

  test("windowing: sliding requires slideDuration; session requires gapDuration") {
    val df = Seq(("2024-01-01 10:00:00", 1.0)).toDF("t", "v")
      .selectExpr("CAST(t AS TIMESTAMP) AS ts", "v")
    an[ConfigException] should be thrownBy WindowTransform(df,
      tc("windowing", "timeColumn" -> "ts", "windowType" -> "sliding",
        "windowDuration" -> "10 minutes", "aggregations" -> "n:count(*)"), ctx)
    an[ConfigException] should be thrownBy WindowTransform(df,
      tc("windowing", "timeColumn" -> "ts", "windowType" -> "session",
        "aggregations" -> "n:count(*)"), ctx)
  }

  test("dedup with orderBy keeps a deterministic survivor") {
    val df = Seq((1, "2024-01-02", "late"), (1, "2024-01-01", "early"), (2, "2024-01-05", "only"))
      .toDF("k", "d", "tag")
    val out = DedupTransform(df, tc("dedup", "columns" -> "k", "orderBy" -> "d"), ctx)
    out.orderBy("k").select("tag").as[String].collect() shouldBe Array("early", "only")
  }

  test("window_rank topK per partition") {
    val df = Seq((1, 10), (1, 30), (1, 20), (2, 5)).toDF("g", "v")
    val out = WindowRankTransform(df, tc("window_rank", "partitionBy" -> "g",
      "orderBy" -> "v desc", "topK" -> "2", "alias" -> "r"), ctx)
    out.where("g = 1").count() shouldBe 2
    out.where("g = 1 AND r = 1").select("v").as[Int].collect() shouldBe Array(30)
  }
}
