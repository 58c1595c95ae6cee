package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.config._
import graft.runtime.PipelineExecutor

class PlanLintSpec extends SparkTestBase {
  import spark.implicits._

  private def withConf[A](k: String, v: String)(body: => A): A = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None    => spark.conf.unset(k)
    }
  }

  test("cartesian product is an error; broadcast nested-loop is only a warn") {
    val a = (1 to 5).toDF("x")
    val b = (6 to 9).toDF("y")
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val cart = PlanLint.audit(a.crossJoin(b))
      assert(cart.exists(f => f.rule == "cartesian-product" && f.severity == "error"))
    }
    val bnl = PlanLint.audit(a.crossJoin(broadcast(b)))
    assert(bnl.exists(_.rule == "nested-loop-join"))
    assert(!bnl.exists(_.severity == "error"))
  }

  test("global window is an error; partitioned window is not") {
    val d = (1 to 10).map(i => (i, i % 3)).toDF("x", "g")
    val global = PlanLint.audit(
      d.withColumn("rn", row_number().over(Window.orderBy("x"))))
    assert(global.exists(f => f.rule == "global-window" && f.severity == "error"))
    val part = PlanLint.audit(
      d.withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("x"))))
    assert(!part.exists(_.severity == "error"))
  }

  test("global sort warns; orderBy().limit() (TakeOrdered) does not") {
    val d = (1 to 10).toDF("x")
    assert(PlanLint.audit(d.orderBy("x")).exists(_.rule == "global-sort"))
    assert(!PlanLint.audit(d.orderBy("x").limit(3)).exists(_.rule == "global-sort"))
  }

  test("ScalaUDF in the plan warns; shuffles are counted as info") {
    val u = udf((i: Long) => i + 1)
    // a LOCAL relation would constant-fold the projection away
    // (ConvertToLocalRelation), so plant the UDF over a Range scan
    assert(PlanLint.audit(spark.range(10).select(u(col("id")))).exists(_.rule == "udf"))
    val agg = PlanLint.audit(
      spark.range(100).withColumn("g", col("id") % 3).groupBy("g").count())
    assert(agg.exists(f => f.rule == "exchange-count" && f.detail.startsWith("1 ")))
  }

  test("exact percentile warns (GLOBAL flagged); approx_percentile does not") {
    val d = spark.range(100).withColumn("g", col("id") % 3)
    // ungrouped exact percentile: the whole column's distinct values land
    // in ONE final buffer — the finding must call out GLOBAL
    val global = PlanLint.audit(d.agg(expr("percentile(id, 0.5)")))
    val gf = global.filter(_.rule == "exact-percentile")
    assert(gf.size == 1 && gf.head.severity == "warn", s"got: $global")
    assert(gf.head.detail.contains("GLOBAL"))
    // partial+final is ONE logical aggregate — the count must be 1, not 2
    assert(gf.head.detail.startsWith("1 "), s"double-counted: ${gf.head.detail}")
    // grouped exact percentile still warns, but without the GLOBAL callout
    val grouped = PlanLint.audit(
      d.groupBy("g").agg(expr("percentile(id, 0.5)")))
    val grf = grouped.filter(_.rule == "exact-percentile")
    assert(grf.size == 1 && !grf.head.detail.contains("GLOBAL"))
    // the sketch spelling is the sanctioned scale path — no finding
    assert(!PlanLint.audit(d.agg(expr("approx_percentile(id, 0.5)")))
      .exists(_.rule == "exact-percentile"))
    // median is sugar over the same O(distinct) state
    assert(PlanLint.audit(d.groupBy("g").agg(expr("median(id)")))
      .exists(_.rule == "exact-percentile"))
  }

  test("anti-patterns inside subquery plans are not hidden from the gate") {
    val d = (1 to 10).map(i => (i, i % 3)).toDF("x", "g")
    d.createOrReplaceTempView("lint_outer")
    (1 to 5).toDF("y").createOrReplaceTempView("lint_sub")
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      // the cartesian product lives entirely inside the scalar subquery —
      // a main-tree-only walk reports a clean plan
      val df = spark.sql(
        """SELECT x, (SELECT count(*) FROM lint_sub a JOIN lint_sub b
                      ON a.y < b.y) AS pairs
           FROM lint_outer""")
      val findings = PlanLint.audit(df)
      assert(findings.exists(f =>
        (f.rule == "cartesian-product" || f.rule == "nested-loop-join")
          && f.severity != "info"),
        s"expected the subquery join to surface, got: $findings")
    }
    // a global window inside an IN-subquery must hit the error gate
    val sub = d.withColumn("rn", row_number().over(Window.orderBy("x")))
    sub.createOrReplaceTempView("lint_gw")
    val gw = spark.sql(
      "SELECT * FROM lint_outer WHERE x IN (SELECT rn FROM lint_gw)")
    assert(PlanLint.audit(gw).exists(f =>
      f.rule == "global-window" && f.severity == "error"))
  }

  test("executor knob: planLint=fail refuses an error plan, warn runs it") {
    val in = tmpDir("lintin")
    (1 to 20).map(i => (i.toLong, i % 3)).toDF("id", "g")
      .write.mode("overwrite").parquet(in)
    def cfg(out: String) = PipelineConfig(
      pipelineId = "lint-test",
      source = SourceConfig("file", Map("path" -> in, "format" -> "parquet")),
      // window_rank WITHOUT partitionBy = the global-window foot-gun
      transformations = List(TransformConfig("rank", "window_rank",
        Map("orderBy" -> "id", "function" -> "row_number", "alias" -> "rn",
          "global" -> "true"))),
      sink = SinkConfig("file", Map("path" -> out), writeMode = WriteMode.Overwrite))
    withConf("spark.graft.planLint", "fail") {
      val m = new PipelineExecutor().execute(cfg(tmpDir("lintout1")))
      m.status shouldBe "FAILED"
      m.error.get should include("plan lint")
      m.error.get should include("global-window")
    }
    withConf("spark.graft.planLint", "warn") {
      new PipelineExecutor().execute(cfg(tmpDir("lintout2"))).status shouldBe "SUCCESS"
    }
  }

  test("performance.planLint YAML knob reaches the executor") {
    val in = tmpDir("lintyamlin")
    (1 to 10).map(i => (i.toLong, i % 2)).toDF("id", "g")
      .write.mode("overwrite").parquet(in)
    val cfg = PipelineConfig(
      pipelineId = "lint-yaml",
      source = SourceConfig("file", Map("path" -> in, "format" -> "parquet")),
      transformations = List(TransformConfig("rank", "window_rank",
        Map("orderBy" -> "id", "function" -> "row_number", "alias" -> "rn",
          "global" -> "true"))),
      sink = SinkConfig("file", Map("path" -> tmpDir("lintyamlout")),
        writeMode = WriteMode.Overwrite),
      performance = Some(PerformanceConfig(planLint = Some("fail"))))
    try {
      val m = new PipelineExecutor().execute(cfg)
      m.status shouldBe "FAILED"
      m.error.get should include("global-window")
    } finally spark.conf.unset("spark.graft.planLint")
  }
}
