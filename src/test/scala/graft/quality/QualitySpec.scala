package graft.quality

import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.api.RunContext
import graft.config.{NullAction, NullCheck}

class QualitySpec extends SparkTestBase {
  import spark.implicits._

  test("schema validator: missing/extra/type-mismatch/nullability, recursive") {
    val expected = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("addr", StructType(Seq(StructField("zip", StringType))))))
    val actual = StructType(Seq(
      StructField("id", LongType, nullable = true),      // nullability violation
      StructField("extra", IntegerType),                 // extra column
      StructField("addr", StructType(Seq(StructField("zip", IntegerType)))))) // nested type
    val issues = SchemaValidator.validate(actual, expected)
    issues.map(i => (i.path, i.issue.takeWhile(_ != ':'))) should contain allOf (
      ("id", "nullable but expected non-nullable"),
      ("name", "missing column"),
      ("extra", "unexpected extra column"),
      ("addr.zip", "type mismatch"))
  }

  test("schema validator: array containsNull / map valueContainsNull are " +
    "checked, matching the header's nullability promise") {
    val expected = StructType(Seq(
      StructField("xs", ArrayType(StringType, containsNull = false)),
      StructField("m", MapType(StringType, StringType, valueContainsNull = false))))
    val actual = StructType(Seq(
      StructField("xs", ArrayType(StringType, containsNull = true)),
      StructField("m", MapType(StringType, StringType, valueContainsNull = true))))
    val issues = SchemaValidator.validate(actual, expected)
    issues.map(_.path) should contain allOf ("xs[]", "m.value")
    SchemaValidator.validate(expected, expected) shouldBe empty
    // the REVERSE direction (stricter actual than expected) is fine
    SchemaValidator.validate(expected, actual) shouldBe empty
  }

  test("splitValidInvalid: single predicate, complementary partitions") {
    val df = Seq((Some("a"), 1), (None, 2), (Some("c"), 3)).toDF("name", "v")
    val (valid, invalid) = QualityChecker.splitValidInvalid(df, Seq(NullCheck("name")))
    valid.columns shouldBe df.columns
    valid.count() shouldBe 2
    invalid.select("v").as[Int].collect() shouldBe Array(2)
  }

  test("metricsFrame: one-row lazy profile — nulls + distincts in a single aggregation") {
    val df = Seq(
      (Some("a"), Some("x")), (None, Some("y")), (Some("a"), None), (Some("a"), Some("x")))
      .toDF("name", "email")
    val m = QualityChecker.metricsFrame(df, Seq("name", "email"), Seq("name"))
    m.columns shouldBe Array("total_rows", "null_name", "null_email", "distinct_name")
    val row = m.head()
    (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) shouldBe ((4L, 1L, 1L, 1L))
  }

  test("metricsFrame on an EMPTY frame reports zero counts (sum over zero rows " +
    "is SQL NULL)") {
    val empty = Seq.empty[(Long, String)].toDF("id", "name")
    val row = QualityChecker.metricsFrame(empty, Seq("name"), Seq("name")).head()
    (row.getLong(0), row.getLong(1), row.getLong(2)) shouldBe ((0L, 0L, 0L))
  }

  test("writeCounted: quarantine count comes from the write's own observation") {
    val dir = tmpDir("quar-counted")
    val ctx = RunContext(spark, "pipeB", "run1")
    val invalid = Seq((None: Option[String], 2), (None, 5), (None, 9)).toDF("name", "v")
    val n = QuarantineWriter.writeCounted(invalid, dir, ctx,
      QuarantineWriter.nullErrorsCol(Seq(NullCheck("name", NullAction.Quarantine))))
    n shouldBe 3
    QuarantineWriter.read(dir, ctx).count() shouldBe 3
  }

  test("quarantine writer stamps audit + validation_errors columns and reads back filtered") {
    val dir = tmpDir("quarantine")
    val ctx = RunContext(spark, "pipeA", "run1")
    val invalid = Seq((None: Option[String], 2), (None, 5)).toDF("name", "v")
    QuarantineWriter.write(invalid, dir, ctx, Seq(NullCheck("name", NullAction.Quarantine)))
    val back = QuarantineWriter.read(dir, ctx, pipelineId = Some("pipeA"))
    back.count() shouldBe 2
    back.columns should contain allOf ("validation_errors", "quarantine_timestamp", "pipeline_id", "run_id")
    back.select("validation_errors").as[String].collect()
      .foreach(_ should include("null value in column 'name'"))
    QuarantineWriter.read(dir, ctx, pipelineId = Some("other")).count() shouldBe 0
  }
}
