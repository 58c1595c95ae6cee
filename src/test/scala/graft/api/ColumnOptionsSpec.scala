package graft.api

import org.apache.spark.scheduler.JobCount
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkTestBase
import graft.config.{PipelineConfig, SinkConfig, SourceConfig, TransformConfig}
import graft.runtime.{PipelineExecutor, Registries}

/** The column half of the declared option surface: every registered
  * transform either declares the options that name its input columns
  * (`Opt.column`/`Opt.columns`) or is listed as having none, and the
  * default `Transform.validate` refuses a missing column with one guided
  * error before any Spark job starts. */
class ColumnOptionsSpec extends SparkTestBase {
  import spark.implicits._

  private val transforms = Registries.transforms()

  /** The transform types that read no option naming an input column. A new
    * transform has to land here or declare its column options. */
  private val noColumnOptions = Set("bpe_vocab", "filter", "limit",
    "materialize", "register", "setop", "sort", "union")

  private def columnOptions(t: Transform): Seq[String] =
    t.options.filter(_.kind == Opt.Column).flatMap(_.keys)

  private val schema = StructType(Seq(StructField("present", StringType)))

  test("every registered transform declares its column options or is listed as having none") {
    transforms.list.filter(t => columnOptions(transforms.get(t)).isEmpty).toSet shouldBe
      noColumnOptions
  }

  test("each declared column option naming a missing column fails validation " +
    "with exactly one error naming the transform, the option and the column") {
    val misses = for {
      typ <- transforms.list
      t = transforms.get(typ)
      opt <- columnOptions(t)
      step = (v: String) => TransformConfig("step", typ, Map(opt -> v))
      miss <- Seq(
        (t.checkColumns(step("ghost"), schema), List(s"$typ: $opt 'ghost' not found in input schema")),
        // matched case-insensitively, like Spark's own column resolution
        (t.checkColumns(step("PRESENT"), schema), Nil))
        .collect { case (got, want) if got != want => s"$typ.$opt: got $got, want $want" }
    } yield miss
    withClue(misses.mkString("\n", "\n", "\n")) { misses shouldBe empty }
  }

  test("the sketch transforms check columns only in the modes that read raw values") {
    val state = StructType(Seq(StructField("user_id_sketch", StringType)))
    def errs(typ: String, opts: (String, String)*) =
      transforms.get(typ).validate(TransformConfig("s", typ, opts.toMap), state)
    for (typ <- Seq("sketch", "quantile_sketch", "frequent_items"); mode <- Seq("merge", "estimate"))
      errs(typ, "columns" -> "user_id", "mode" -> mode) shouldBe Nil
    errs("sketch", "columns" -> "user_id", "mode" -> "merge", "groupBy" -> "day") shouldBe
      List("sketch: groupBy 'day' not found in input schema")
    errs("frequent_items", "columns" -> "user_id", "mode" -> "topk") shouldBe
      List("frequent_items: columns 'user_id' not found in input schema")
  }

  private lazy val inputPath: String = {
    val dir = tmpDir("column-options-in")
    Seq((1L, "a", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "x y", Array[Byte](1)))
      .toDF("id", "k", "v", "ts", "text", "bytes")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** One step per transform that checked no column before the declaration;
    * each names `ghost` in the listed option. */
  private val newlyCovered: Seq[(String, String, Map[String, String])] = Seq(
    ("windowing", "timeColumn", Map("windowDuration" -> "1 hour", "aggregations" -> "n:count(*)")),
    ("window_rank", "partitionBy", Map("orderBy" -> "ts")),
    ("window_agg", "partitionBy", Map("orderBy" -> "ts", "aggregations" -> "s:sum(v)")),
    ("sessionize", "keyColumn", Map("tsColumn" -> "ts", "gap" -> "30 minutes")),
    ("sample", "on", Map("keep" -> "10")),
    ("mix", "groupBy", Map("on" -> "id", "weights" -> "a:1")),
    ("shuffle", "idColumn", Map.empty),
    ("redact", "columns", Map.empty),
    ("sketch", "columns", Map.empty),
    ("quantile_sketch", "columns", Map.empty),
    ("frequent_items", "columns", Map.empty),
    ("profile", "columns", Map.empty),
    ("tfidf", "textColumn", Map("idColumn" -> "id")),
    ("multimodal", "bytesColumn", Map("operation" -> "features", "idColumn" -> "id")),
    ("dedup", "columns", Map.empty),
    ("join", "joinKeys", Map("rightDataset" -> "column_options_right")),
    ("scd2", "compareColumns", Map("keyColumns" -> "k", "timeColumn" -> "ts")))

  test("compose refuses a typo'd column of a newly covered transform, guided and before any job") {
    // the join's right side: the declared view check runs before the column check
    Seq((1L, "a")).toDF("id", "k").createOrReplaceTempView("column_options_right")
    val source = SourceConfig("file", Map("path" -> inputPath, "format" -> "parquet",
      "schema" -> "id BIGINT, k STRING, v DOUBLE, ts TIMESTAMP, text STRING, bytes BINARY"))
    val sink = SinkConfig("file", Map("path" -> tmpDir("column-options-out")))
    val misses = newlyCovered.flatMap { case (typ, opt, opts) =>
      val cfg = PipelineConfig(s"column-options-$typ", source = source, sink = sink,
        transformations = List(TransformConfig("step", typ, opts + (opt -> "ghost"))))
      val j0 = JobCount.started(spark.sparkContext)
      val outcome =
        try { new PipelineExecutor().compose(cfg); "no exception" }
        catch {
          case e: ConfigException => e.getMessage
          case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      val jobs = JobCount.started(spark.sparkContext) - j0
      Seq(
        Some(outcome).filter(_ != s"$typ: $opt 'ghost' not found in input schema"),
        Some(s"$jobs Spark job(s) started").filter(_ => jobs != 0)).flatten.map(p => s"$typ: $p")
    }
    withClue(misses.mkString("\n", "\n", "\n")) { misses shouldBe empty }
  }

  test("survivorColumn resolves case-insensitively, like the other column options") {
    val df = Seq((1L, "a b c", 0.5)).toDF("id", "text", "score")
    val cfg = TransformConfig("d", "dedup_simhash",
      Map("idColumn" -> "id", "textColumn" -> "text", "survivorColumn" -> "SCORE"))
    PipelineExecutor.applyAll(df, Seq(cfg), transforms, RunContext(spark, "p", "r"))
      .columns shouldBe Array("id", "text", "score")
  }

  test("two transforms sharing a type fail the registry's construction") {
    val twin = new Transform {
      val transformType = "filter"
      def apply(input: org.apache.spark.sql.DataFrame, config: TransformConfig,
                ctx: RunContext) = input
    }
    val e = intercept[IllegalStateException] {
      Registries.byType(Seq(graft.operators.FilterTransform, twin))
    }
    e.getMessage shouldBe "transform type(s) registered twice: filter"
  }
}
