package graft.config

import org.apache.spark.scheduler.JobCount
import org.apache.spark.sql.DataFrame

import graft.SparkTestBase
import graft.api.{ConfigException, RunContext}
import graft.runtime.{PipelineExecutor, Registries}

/** A malformed numeric or boolean option value fails as a
  * `ConfigException` naming the component and the key, from the
  * transform call (or `compose`, the sink's validation, the YAML parse)
  * and before any Spark job starts. One case per component family that
  * decodes options through [[Options]]. */
class MalformedOptionsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val frame: DataFrame = {
    val df = Seq((1L, " a  b c d ", "en", 0.5, 10L, Seq(1.0f, 0.0f)))
      .toDF("id", "text", "lang", "score", "ts", "vec")
    df.createOrReplaceTempView("malformed_right")
    graft.text.ChargramLm.modelFrame(df, "lang", "text", n = 2, minCount = 1L)
      .createOrReplaceTempView("malformed_lm")
    df
  }
  private val transforms = Registries.transforms()
  private def ctx = RunContext(spark, "malformed", "malformed")
  private def step(typ: String, opts: (String, String)*): () => Any = () =>
    PipelineExecutor.applyAll(frame, Seq(TransformConfig(s"$typ-step", typ, opts.toMap)),
      transforms, ctx)

  private val src = SourceConfig("file", Map("path" -> "/nonexistent", "schema" -> "id BIGINT"))
  private val sink = SinkConfig("file", Map("path" -> "/nonexistent"))
  private def pipeline(source: SourceConfig = src, sink: SinkConfig = sink) =
    PipelineConfig("malformed", source = source, sink = sink)
  private def yaml(block: String): () => Any = () => new YamlConfigParser().parse(
    s"""pipelineId: p
       |source: {type: file, options: {path: /in}}
       |sink: {type: file, options: {path: /out}}
       |$block
       |""".stripMargin)

  /** (case, component, key, run): `run` must throw. */
  private val cases: Seq[(String, String, String, () => Any)] = Seq(
    ("assign_ids start", "assign_ids", "start", step("assign_ids", "orderBy" -> "id", "start" -> "one")),
    ("blocklist wholeWord", "blocklist", "wholeWord",
      step("blocklist", "textColumn" -> "text", "terms" -> "x", "wholeWord" -> "yes")),
    ("bpe_train byteFallback", "bpe_train", "byteFallback",
      step("bpe_train", "textColumn" -> "text", "byteFallback" -> "yes")),
    ("bpe_train numMerges", "bpe_train", "numMerges",
      step("bpe_train", "textColumn" -> "text", "numMerges" -> "many")),
    ("chunk size", "chunk", "size",
      step("chunk", "idColumn" -> "id", "textColumn" -> "text", "size" -> "big")),
    ("cluster_embeddings nClusters", "cluster_embeddings", "nClusters",
      step("cluster_embeddings", "idColumn" -> "id", "vecColumn" -> "vec", "nClusters" -> "lots")),
    ("compression_ratio level", "compression_ratio", "level",
      step("compression_ratio", "textColumn" -> "text", "level" -> "high")),
    ("join broadcast", "join", "broadcast",
      step("join", "rightDataset" -> "malformed_right", "joinKeys" -> "id", "broadcast" -> "yes")),
    ("map project", "map", "project",
      step("map", "expressions" -> "x:id + 1", "project" -> "yes")),
    ("drift bins", "drift", "bins",
      step("drift", "columns" -> "score", "referenceView" -> "malformed_right", "bins" -> "ten")),
    ("frequent_items k", "frequent_items", "k", step("frequent_items", "columns" -> "lang", "k" -> "ten")),
    ("join_fuzzy maxDistance", "join_fuzzy", "maxDistance",
      step("join_fuzzy", "rightDataset" -> "malformed_right", "leftColumn" -> "text",
        "rightColumn" -> "text", "maxDistance" -> "two")),
    ("join_asof tolerance", "join_asof", "tolerance",
      step("join_asof", "rightDataset" -> "malformed_right", "on" -> "lang", "leftTime" -> "ts",
        "tolerance" -> "soon")),
    ("quality_rules minWords refuses a fraction", "quality_rules", "minWords",
      step("quality_rules", "textColumn" -> "text", "minWords" -> "50.9")),
    ("html_strip trim", "html_strip", "trim", step("html_strip", "columns" -> "text", "trim" -> "yes")),
    ("chargram_lm n", "chargram_lm", "n",
      step("chargram_lm", "labelColumn" -> "lang", "textColumn" -> "text", "n" -> "three")),
    ("lang_classify maxUnseenFrac", "lang_classify", "maxUnseenFrac",
      step("lang_classify", "modelView" -> "malformed_lm", "textColumn" -> "text",
        "unseenColumn" -> "unseen", "maxUnseenFrac" -> "most")),
    ("merge broadcast", "merge", "broadcast",
      step("merge", "rightDataset" -> "malformed_right", "keyColumns" -> "id", "broadcast" -> "nope")),
    ("limit n", "limit", "n", step("limit", "n" -> "ten")),
    ("materialize eager", "materialize", "eager", step("materialize", "eager" -> "yes")),
    ("fillna literal", "fillna", "values", step("fillna", "values" -> "score:abc")),
    ("dedup_minhash bands", "dedup_minhash", "bands",
      step("dedup_minhash", "idColumn" -> "id", "textColumn" -> "text", "bands" -> "sixteen")),
    ("dedup_embedding threshold refuses NaN", "dedup_embedding", "threshold",
      step("dedup_embedding", "idColumn" -> "id", "vecColumn" -> "vec", "threshold" -> "NaN")),
    ("pack_sequences seqLen", "pack_sequences", "seqLen",
      step("pack_sequences", "idColumn" -> "id", "weightColumn" -> "ts", "seqLen" -> "long")),
    ("pack_sequences emitMask", "pack_sequences", "emitMask",
      step("pack_sequences", "idColumn" -> "id", "weightColumn" -> "ts", "seqLen" -> "8",
        "emitMask" -> "yes")),
    ("profile exact", "profile", "exact", step("profile", "columns" -> "score", "exact" -> "yes")),
    ("quantile_filter lower", "quantile_filter", "lower",
      step("quantile_filter", "column" -> "score", "lower" -> "low")),
    ("quantile_sketch quantiles", "quantile_sketch", "quantiles",
      step("quantile_sketch", "columns" -> "score", "mode" -> "estimate", "quantiles" -> "0.5,half")),
    ("join_range binWidth", "join_range", "binWidth",
      step("join_range", "rightDataset" -> "malformed_right", "point" -> "ts", "lo" -> "ts",
        "hi" -> "ts", "binWidth" -> "wide")),
    ("explode outer", "explode", "outer", step("explode", "column" -> "vec", "outer" -> "yes")),
    ("scale roundTo", "scale", "roundTo", step("scale", "columns" -> "score", "roundTo" -> "two")),
    ("shard budget", "shard", "budget",
      step("shard", "idColumn" -> "id", "weightColumn" -> "ts", "budget" -> "big")),
    ("sample keep", "sample", "keep", step("sample", "on" -> "id", "keep" -> "half")),
    ("mix temperature refuses Infinity", "mix", "temperature",
      step("mix", "on" -> "id", "groupBy" -> "lang", "temperature" -> "Infinity")),
    ("mix budgetRows", "mix", "budgetRows",
      step("mix", "on" -> "id", "groupBy" -> "lang", "temperature" -> "0.5", "budgetRows" -> "lots")),
    ("sketch lgConfigK", "sketch", "lgConfigK", step("sketch", "columns" -> "lang", "lgConfigK" -> "twelve")),
    ("normalize_text trim", "normalize_text", "trim",
      step("normalize_text", "columns" -> "text", "trim" -> "yes")),
    ("text_signals ngramSize", "text_signals", "ngramSize",
      step("text_signals", "textColumn" -> "text", "ngramSize" -> "two")),
    ("token_cap budgets element", "token_cap", "budgets",
      step("token_cap", "idColumn" -> "id", "weightColumn" -> "ts", "budget" -> "100",
        "groupBy" -> "lang", "budgets" -> "en:lots")),
    ("topk k", "topk", "k", step("topk", "scoreColumn" -> "score", "idColumn" -> "id", "k" -> "ten")),
    ("window_rank n", "window_rank", "n",
      step("window_rank", "orderBy" -> "score", "partitionBy" -> "lang", "function" -> "ntile",
        "n" -> "four")),
    ("window_agg frameStart", "window_agg", "frameStart",
      step("window_agg", "orderBy" -> "ts", "partitionBy" -> "lang", "aggregations" -> "s:sum(score)",
        "frameType" -> "rows", "frameStart" -> "-two")),
    ("zorder lo element", "zorder", "lo",
      step("zorder", "columns" -> "score,ts", "lo" -> "0,low", "hi" -> "1,100")),
    ("dedup_lines minLength", "dedup_lines", "minLength",
      step("dedup_lines", "idColumn" -> "id", "textColumn" -> "text", "minLength" -> "two")),
    ("dedup_spans n", "dedup_spans", "n",
      step("dedup_spans", "idColumn" -> "id", "textColumn" -> "text", "n" -> "eight")),
    ("sessionize gap overflow", "sessionize", "gap",
      step("sessionize", "keyColumn" -> "lang", "tsColumn" -> "ts",
        "gap" -> "99999999999999999999 ms")),
    ("aggregation unknown key", "aggregation transform 'aggregation-step'", "groupingSet",
      step("aggregation", "groupBy" -> "lang", "aggregations" -> "n:count(*)",
        "groupingSet" -> "rollup")),
    ("window_rank one-of", "window_rank", "function",
      step("window_rank", "orderBy" -> "score", "partitionBy" -> "lang", "function" -> "rnk")),
    ("join unregistered view", "join", "rightDataset",
      step("join", "rightDataset" -> "malformed_nowhere", "joinKeys" -> "id")),
    ("postgres source numPartitions", "postgres source", "numPartitions",
      () => new PipelineExecutor().compose(pipeline(source = SourceConfig("postgres", Map(
        "url" -> "jdbc:postgresql://localhost/db", "dbtable" -> "t", "numPartitions" -> "four"))))),
    ("file sink coalesce", "file sink", "coalesce",
      () => Registries.sinks().get("file").validate(
        sink.copy(options = sink.options + ("coalesce" -> "two")))),
    ("yaml performance shufflePartitions", "performance", "shufflePartitions",
      yaml("performance: {shufflePartitions: many}")),
    ("yaml streaming shufflePartitions", "streaming", "shufflePartitions",
      yaml("streaming: {shufflePartitions: 4.5}")),
    ("yaml quality schemaValidation", "quality", "schemaValidation",
      yaml("quality: {schemaValidation: sometimes}")))

  test("every malformed option value fails guided, naming component and key, before any job") {
    frame.columns should not be empty
    val misses = cases.flatMap { case (name, component, key, run) =>
      val j0 = JobCount.started(spark.sparkContext)
      val outcome =
        try { run(); Left("no exception") }
        catch {
          case e: ConfigException => Right(e.getMessage)
          case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      val jobs = JobCount.started(spark.sparkContext) - j0
      val problems = outcome match {
        case Left(other) => Seq(other)
        case Right(msg) =>
          Seq(s"$component:" -> component, key -> key).collect {
            case (needle, what) if !msg.contains(needle) => s"message '$msg' does not name $what"
          }
      }
      (problems ++ (if (jobs == 0) Nil else Seq(s"$jobs Spark job(s) started")))
        .map(p => s"$name: $p")
    }
    withClue(misses.mkString("\n", "\n", "\n")) { misses shouldBe empty }
  }

  test("the sink's lineage flag fails the run before any job") {
    val j0 = JobCount.started(spark.sparkContext)
    val m = new PipelineExecutor().execute(
      pipeline(sink = sink.copy(options = sink.options + ("lineage" -> "yes"))))
    JobCount.started(spark.sparkContext) - j0 shouldBe 0
    m.status shouldBe "FAILED"
    m.error.get shouldBe "file sink: lineage must be true|false, got 'yes'"
  }

  test("booleans decode alike everywhere: TRUE is accepted by html_strip, " +
    "bpe_train.byteFallback and pack_sequences.emitMask") {
    step("html_strip", "columns" -> "text", "trim" -> "TRUE", "collapseWhitespace" -> "True")()
      .asInstanceOf[DataFrame].select("text").as[String].head() shouldBe "a b c d"
    val store = step("bpe_train", "textColumn" -> "text", "numMerges" -> "2",
      "minCount" -> "1", "byteFallback" -> "TRUE")().asInstanceOf[DataFrame]
    store.select("bpe_byte_fallback").as[Boolean].collect().distinct shouldBe Array(true)
    store.createOrReplaceTempView("malformed_merges")
    val packed = step("pack_sequences", "idColumn" -> "id", "textColumn" -> "text",
      "mergesView" -> "malformed_merges", "emit" -> "input_ids", "seqLen" -> "4",
      "padId" -> "0", "emitMask" -> "TRUE")().asInstanceOf[DataFrame]
    packed.columns should contain ("attention_mask")
    packed.count() should be > 0L
  }
}
