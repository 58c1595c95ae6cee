package graft.operators

import graft.SparkTestBase
import graft.api.{ConfigException, RunContext}
import graft.config.TransformConfig

class ReshapeSpec extends SparkTestBase {
  import spark.implicits._

  private def ctx = RunContext(spark, "t", "r")
  private def tc(typ: String, opts: (String, String)*) =
    TransformConfig(s"$typ-spec", typ, opts.toMap)

  private def sales = Seq(
    ("a", "x", 1.0), ("a", "x", 2.0), ("a", "y", 10.0),
    ("b", "y", 5.0), ("b", "z", 7.0)).toDF("k", "p", "v")

  test("pivot: explicit values become columns; absent combinations are null") {
    val out = PivotTransform(sales, tc("pivot",
      "groupBy" -> "k", "pivotColumn" -> "p", "values" -> "x,y",
      "aggregations" -> "sum(v)"), ctx)
    out.columns.toSeq shouldBe Seq("k", "x", "y")
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    rows("a").getDouble(1) shouldBe 3.0
    rows("a").getDouble(2) shouldBe 10.0
    rows("b").isNullAt(1) shouldBe true // no (b, x) input row
    rows("b").getDouble(2) shouldBe 5.0
  }

  test("pivot: values outside the explicit list are ignored, single scan") {
    val out = PivotTransform(sales, tc("pivot",
      "groupBy" -> "k", "pivotColumn" -> "p", "values" -> "x",
      "aggregations" -> "n:count(*)"), ctx)
    out.columns.toSeq shouldBe Seq("k", "x") // 'z' never becomes a column
    // explicit values → no extra distinct-scan job: plan has exactly one scan
    val scans = out.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan"))
    scans shouldBe 1
  }

  test("unpivot: wide to long with chosen column names") {
    val wide = Seq((1, 10.0, 0.5), (2, 20.0, 0.7)).toDF("id", "qty", "disc")
    val out = UnpivotTransform(wide, tc("unpivot",
      "ids" -> "id", "cols" -> "qty,disc",
      "variableColumn" -> "measure", "valueColumn" -> "amount"), ctx)
    out.columns.toSeq shouldBe Seq("id", "measure", "amount")
    out.count() shouldBe 4
    out.where("id = 1 AND measure = 'qty'").collect().head.getDouble(2) shouldBe 10.0
    // pivot(unpivot) round-trips the original frame
    val back = PivotTransform(out, tc("pivot", "groupBy" -> "id",
      "pivotColumn" -> "measure", "values" -> "qty,disc",
      "aggregations" -> "first(amount)"), ctx)
    back.orderBy("id").collect().map(_.getDouble(1)).toSeq shouldBe Seq(10.0, 20.0)
  }

  test("setop: all four modes with multiset semantics where _all") {
    val left = Seq(1, 1, 2, 3).toDF("x")
    Seq(2, 3, 3, 4).toDF("x").createOrReplaceTempView("reshape_right")
    def run(mode: String) =
      SetOpTransform(left, tc("setop",
        "rightDataset" -> "reshape_right", "mode" -> mode), ctx)
        .collect().map(_.getInt(0)).sorted.toSeq
    run("intersect") shouldBe Seq(2, 3)
    run("intersect_all") shouldBe Seq(2, 3)
    run("except") shouldBe Seq(1)
    run("except_all") shouldBe Seq(1, 1) // multiplicity preserved
    val e = intercept[ConfigException] { run("union") }
    e.getMessage should include ("mode must be")
  }

  test("missing required options fail fast with the option name") {
    val e = intercept[ConfigException] {
      PivotTransform(sales, tc("pivot", "groupBy" -> "k"), ctx)
    }
    e.getMessage should include ("pivotColumn")
  }

  test("schema-aware validate flags unknown columns before any job runs") {
    PivotTransform.validate(tc("pivot", "groupBy" -> "nope,k",
      "pivotColumn" -> "p", "values" -> "x", "aggregations" -> "s:sum(v)"), sales.schema) shouldBe
      List("pivot: groupBy 'nope' not found in input schema")
    UnpivotTransform.validate(tc("unpivot", "ids" -> "k",
      "cols" -> "v,ghost"), sales.schema).head should include ("ghost")
    ChunkTransform.validate(tc("chunk", "idColumn" -> "k",
      "textColumn" -> "missing", "size" -> "8"), sales.schema).head should include ("missing")
    TopKTransform.validate(tc("topk", "scoreColumn" -> "v",
      "idColumn" -> "absent", "k" -> "1"), sales.schema).head should include ("absent")
    ScaleTransform.validate(tc("scale", "columns" -> "v"), sales.schema) shouldBe Nil
    ResampleTransform.validate(tc("resample", "timeColumn" -> "gone",
      "interval" -> "1 hour", "aggregations" -> "n:count(*)"),
      sales.schema).head should include ("gone")
    TextSignalsTransform.validate(tc("text_signals", "textColumn" -> "p"),
      sales.schema) shouldBe Nil
  }

  test("topk rejects input columns colliding with its helper names, like " +
    "the other helper-column operators") {
    val bad = Seq((1L, 0.5, 1.0)).toDF("id", "v", "__s")
    val e = intercept[ConfigException] {
      TopKTransform(bad, tc("topk", "scoreColumn" -> "v", "k" -> "1",
        "idColumn" -> "id"), ctx)
    }
    e.getMessage should include ("__s")
  }

  private def tagged = Seq(
    (1L, Seq("a", "b")), (2L, Seq("c")), (3L, Seq.empty[String]))
    .toDF("id", "tags")

  test("explode: rows per element, renamed, empty arrays dropped unless outer") {
    val out = ExplodeTransform(tagged, tc("explode",
      "column" -> "tags", "as" -> "tag"), ctx)
    out.columns.toSeq shouldBe Seq("id", "tag")
    out.as[(Long, String)].collect().sortBy(r => (r._1, r._2)) shouldBe
      Array((1L, "a"), (1L, "b"), (2L, "c"))
    val outer = ExplodeTransform(tagged, tc("explode",
      "column" -> "tags", "outer" -> "true"), ctx)
    outer.as[(Long, Option[String])].collect().sortBy(_._1).last shouldBe ((3L, None))
  }

  test("explode of a MAP column yields key/value rows (custom names via " +
    "as), and positionColumn on a map is rejected") {
    val m = Seq((1L, Map("a" -> "x", "b" -> "y")), (2L, Map.empty[String, String]))
      .toDF("id", "attrs")
    val out = ExplodeTransform(m, tc("explode", "column" -> "attrs"), ctx)
    out.columns.toSeq shouldBe Seq("id", "key", "value")
    out.as[(Long, String, String)].collect().sorted shouldBe
      Array((1L, "a", "x"), (1L, "b", "y"))
    val named = ExplodeTransform(m, tc("explode",
      "column" -> "attrs", "as" -> "k,v"), ctx)
    named.columns.toSeq shouldBe Seq("id", "k", "v")
    an[ConfigException] should be thrownBy ExplodeTransform(m,
      tc("explode", "column" -> "attrs", "as" -> "only_one"), ctx)
    an[ConfigException] should be thrownBy ExplodeTransform(m,
      tc("explode", "column" -> "attrs", "positionColumn" -> "pos"), ctx)
  }

  test("explode replaces the column case-insensitively, like validation " +
    "and Spark resolution — never keeps the original array alongside") {
    val mixed = Seq((1L, Seq("a"))).toDF("id", "Tags")
    val out = ExplodeTransform(mixed, tc("explode", "column" -> "tags"), ctx)
    out.columns.toSeq shouldBe Seq("id", "tags") // "Tags" replaced, no dup
    out.count() shouldBe 1
  }

  test("explode: positionColumn gives the 0-based index; zero-shuffle plan") {
    val out = ExplodeTransform(tagged, tc("explode", "column" -> "tags",
      "as" -> "tag", "positionColumn" -> "pos"), ctx)
    out.columns.toSeq shouldBe Seq("id", "pos", "tag")
    out.as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)) shouldBe
      Array((1L, 0, "a"), (1L, 1, "b"), (2L, 0, "c"))
    out.queryExecution.executedPlan.toString should not include "Exchange"
    ExplodeTransform.validate(tc("explode", "column" -> "ghost"),
      tagged.schema).head should include ("ghost")
  }
}
