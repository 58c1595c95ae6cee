package graft.api

import org.apache.spark.scheduler.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.config._
import graft.runtime.{PipelineExecutor, Registries}

/** The declared option surface: every registered transform declares its
  * options once, the docs table names each of them, and one checker
  * refuses a bad step before the source read, the quality gate or any
  * Spark job. */
class OptionSurfaceSpec extends SparkTestBase {
  import spark.implicits._

  private val transforms = Registries.transforms()
  private def ctx = RunContext(spark, "option-surface", "option-surface")

  test("every registered transform declares its options") {
    transforms.list.filter(transforms.get(_).options.isEmpty) shouldBe empty
  }

  test("docs/CONFIGURATION.md's transform table has a row per registered type " +
    "naming every declared key") {
    val src = scala.io.Source.fromFile("docs/CONFIGURATION.md", "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    val rows = lines.dropWhile(!_.startsWith("## Transformations"))
      .dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|")).drop(2)
      .map { row =>
        val cells = row.split('|').map(_.trim)
        cells(1).stripPrefix("`").stripSuffix("`") -> cells.drop(2).mkString("|")
      }.toMap
    val misses = for {
      typ <- transforms.list
      row = rows.get(typ)
      miss <- row match {
        case None => Seq(s"$typ: no row")
        // a key opens a code span: `k`, `k: a | b`, `k`/`k2`
        case Some(text) => transforms.get(typ).options.filter(_.kind != Opt.Passthrough)
          .flatMap(_.keys).filterNot(k => s"`${java.util.regex.Pattern.quote(k)}(?![A-Za-z0-9_])".r
            .findFirstIn(text).isDefined).map(k => s"$typ: `$k` not named")
      }
    } yield miss
    withClue(misses.mkString("\n", "\n", "\n")) { misses shouldBe empty }
  }

  test("a declared column resolves to the schema's own field name") {
    val df = Seq((1L, "a", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "a", 2.0, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      (3L, "b", 3.0, java.sql.Timestamp.valueOf("2024-01-01 00:20:00")))
      .toDF("id", "k", "v", "ts")
    def run(typ: String, opts: (String, String)*): DataFrame =
      PipelineExecutor.applyAll(df, Seq(TransformConfig(s"$typ-step", typ, opts.toMap)),
        transforms, ctx)
    run("profile", "columns" -> "V").count() should be > 0L
    run("sessionize", "keyColumn" -> "K", "tsColumn" -> "TS", "gap" -> "1 hour")
      .select("k", "n_events").as[(String, Long)].collect().toMap shouldBe
      Map("a" -> 2L, "b" -> 1L)
    run("sample", "on" -> "ID", "perGroup" -> "1", "groupBy" -> "k")
      .select("k").as[String].collect().sorted shouldBe Array("a", "b")
  }

  private lazy val gateInput: String = {
    val dir = tmpDir("option-surface-gate-in")
    Seq[(java.lang.Long, String, Double)]((1L, "a", 1.0), (2L, null, 2.0), (3L, "c", 3.0),
      (3L, "c", 3.0)).toDF("id", "k", "v").write.mode("overwrite").parquet(dir)
    dir
  }

  /** The gate pipeline with `last` as its last step: a quarantine null
    * check and duplicate check, one good step first. */
  private def gated(id: String, last: TransformConfig): (PipelineConfig, String) = {
    val quarantine = tmpDir(s"$id-quarantine") + "/q"
    (PipelineConfig(id,
      source = SourceConfig("file", Map("path" -> gateInput, "format" -> "parquet")),
      transformations = List(
        TransformConfig("plus", "map", Map("expressions" -> "w:v + 1")), last),
      sink = SinkConfig("file", Map("path" -> tmpDir(s"$id-out")), WriteMode.Overwrite),
      quality = Some(QualityConfig(
        nullChecks = List(NullCheck("k", NullAction.Quarantine)),
        duplicateCheck = Some(DuplicateCheck(List("id"), NullAction.Quarantine)),
        quarantinePath = Some(quarantine)))), quarantine)
  }

  test("a bad last step fails a quality-gated pipeline with no job and no quarantine file") {
    val bad = Seq(
      "missing required key" -> (TransformConfig("last", "filter", Map.empty),
        "filter transform 'last' missing required option(s): condition"),
      "unknown key" -> (TransformConfig("last", "aggregation", Map("groupBy" -> "k",
        "aggregations" -> "n:count(*)", "groupingSet" -> "rollup")),
        "aggregation transform 'last': unknown option 'groupingSet' (did you mean 'groupingSets'?)"),
      "bad one-of value" -> (TransformConfig("last", "window_rank", Map("partitionBy" -> "k",
        "orderBy" -> "v", "function" -> "rnk")),
        "window_rank: function must be one of row_number|rank|dense_rank|percent_rank|ntile, got 'rnk'"),
      "out-of-range value" -> (TransformConfig("last", "topk", Map("scoreColumn" -> "v",
        "idColumn" -> "id", "k" -> "0")), "topk: k must be >= 1, got 0"),
      "unregistered view" -> (TransformConfig("last", "join", Map(
        "rightDataset" -> "option_surface_nowhere", "joinKeys" -> "id")),
        "join: rightDataset 'option_surface_nowhere' is not a registered view"))
    val executor = new PipelineExecutor()
    val misses = bad.flatMap { case (what, (step, message)) =>
      val (cfg, quarantine) = gated(s"option-surface-${what.replace(' ', '-')}", step)
      val j0 = JobCount.started(spark.sparkContext)
      val m = executor.execute(cfg)
      val jobs = JobCount.started(spark.sparkContext) - j0
      Seq(
        Some(s"status ${m.status}").filter(_ => m.status != "FAILED"),
        Some(s"error ${m.error}").filterNot(_ => m.error.exists(_.contains(message))),
        Some(s"$jobs job(s)").filter(_ => jobs != 0),
        Some("quarantine written").filter(_ => new java.io.File(quarantine).exists()))
        .flatten.map(p => s"$what: $p")
    }
    withClue(misses.mkString("\n", "\n", "\n")) { misses shouldBe empty }
    // the same pipeline with a good last step runs and quarantines
    val (ok, quarantine) = gated("option-surface-good",
      TransformConfig("last", "filter", Map("condition" -> "w > 0")))
    executor.execute(ok).status shouldBe "SUCCESS"
    new java.io.File(quarantine).exists() shouldBe true
  }

  test("quickstart-26 with pack's seqLen missing or misspelled starts no job " +
    "in compose or execute") {
    val base = new YamlConfigParser().parseFile("examples/quickstart-26-curation-pipeline.yaml")
    def withPack(f: Map[String, String] => Map[String, String]) = base.copy(
      transformations = base.transformations.map(t =>
        if (t.transformType == "pack_sequences") t.copy(options = f(t.options)) else t),
      sink = base.sink.copy(options = Map("path" -> tmpDir("option-surface-q26-out"))))
    val cases = Seq(
      withPack(_ - "seqLen") ->
        "pack_sequences transform 'pack' missing required option(s): seqLen",
      withPack(o => o - "seqLen" + ("seqlen" -> "256")) ->
        "pack_sequences transform 'pack': unknown option 'seqlen' (did you mean 'seqLen'?)")
    for ((cfg, message) <- cases) {
      val j0 = JobCount.started(spark.sparkContext)
      the[ConfigException] thrownBy new PipelineExecutor().compose(cfg) should
        have message (if (message.contains("unknown"))
          s"$message; pack_sequences transform 'pack' missing required option(s): seqLen"
          else message)
      new PipelineExecutor().execute(cfg).status shouldBe "FAILED"
      JobCount.started(spark.sparkContext) - j0 shouldBe 0
    }
  }

  /** Built-in transforms behind a decorator that forwards only
    * `transformType`, `apply` and `validate`, the shape a tracing
    * harness wraps the registry in. */
  private def decorated(): Registry[Transform] = {
    val base = Registries.transforms()
    new Registry[Transform]("transform", base.list.map { typ =>
      val t = base.get(typ)
      typ -> (new Transform {
        def transformType: String = t.transformType
        def apply(in: DataFrame, c: TransformConfig, ctx: RunContext): DataFrame =
          t.apply(in, c, ctx)
        override def validate(c: TransformConfig, schema: StructType): List[String] =
          t.validate(c, schema)
      }: Transform)
    }.toMap)
  }

  test("a decorated registry runs register then join, and refuses a typo'd key at the fold") {
    val left = tmpDir("option-surface-left")
    val right = tmpDir("option-surface-right")
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v").write.mode("overwrite").parquet(left)
    Seq((1L, "x"), (2L, "y")).toDF("id", "name").write.mode("overwrite").parquet(right)
    val out = tmpDir("option-surface-joined")
    def cfg(joinOpts: Map[String, String]) = PipelineConfig("option-surface-decorated",
      source = SourceConfig("file", Map("path" -> left, "format" -> "parquet")),
      transformations = List(
        TransformConfig("dim", "register", Map("viewName" -> "option_surface_dim",
          "path" -> right, "format" -> "parquet")),
        TransformConfig("j", "join", Map("rightDataset" -> "option_surface_dim",
          "joinKeys" -> "id") ++ joinOpts)),
      sink = SinkConfig("file", Map("path" -> out), WriteMode.Overwrite))
    val executor = new PipelineExecutor(transforms = decorated())
    executor.execute(cfg(Map.empty)).status shouldBe "SUCCESS"
    spark.read.parquet(out).select("id", "name").as[(Long, String)].collect().sorted shouldBe
      Array((1L, "x"), (2L, "y"))
    val failed = executor.execute(cfg(Map("broadcst" -> "true")))
    failed.status shouldBe "FAILED"
    failed.error shouldBe Some(
      "join transform 'j': unknown option 'broadcst' (did you mean 'broadcast'?)")
  }
}
