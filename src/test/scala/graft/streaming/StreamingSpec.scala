package graft.streaming

import graft.SparkTestBase
import graft.config._

class StreamingSpec extends SparkTestBase {
  import spark.implicits._
  private val executor = new StreamingExecutor()

  private def eventsDir: String = {
    val dir = tmpDir("stream-in")
    Seq(
      ("2024-01-01 10:00:10", "cpu", 1.0), ("2024-01-01 10:00:40", "cpu", 2.0),
      ("2024-01-01 10:01:05", "cpu", 4.0), ("2024-01-01 10:00:20", "mem", 8.0),
      ("2024-01-01 10:02:30", "cpu", 16.0))
      .toDF("t", "metric", "v")
      .selectExpr("CAST(t AS TIMESTAMP) AS ts", "metric", "v")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("readStream → watermark → windowed agg → memory sink (complete mode) matches batch totals") {
    val cfg = PipelineConfig(
      pipelineId = "stream-metrics",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map(
        "path" -> eventsDir, "format" -> "parquet",
        "schema" -> "ts TIMESTAMP, metric STRING, v DOUBLE")),
      transformations = List(TransformConfig("w", "windowing", Map(
        "timeColumn" -> "ts", "windowDuration" -> "1 minute",
        "groupBy" -> "metric", "aggregations" -> "total:sum(v),n:count(*)"))),
      sink = SinkConfig("memory", Map("queryName" -> "stream_out")),
      streaming = Some(StreamingConfig(
        checkpointLocation = Some(tmpDir("ckpt")),
        watermarkColumn = Some("ts"), watermarkDelay = Some("10 minutes"),
        outputMode = "complete")))
    val q = executor.start(cfg)
    q.awaitTermination(60000)
    val out = spark.table("stream_out")
    out.columns shouldBe Array("window_start", "window_end", "metric", "total", "n")
    out.count() shouldBe 4 // cpu in 3 windows + mem in 1
    out.where("metric = 'cpu' AND total = 3.0").count() shouldBe 1 // 10:00 window
  }

  test("stream-static join micro-batch plan broadcasts the dimension side " +
    "(q68's shape) — never a shuffled join against the stream") {
    import org.apache.spark.sql.functions._
    val dim = Seq(("cpu", "infra"), ("mem", "infra")).toDF("metric", "team")
    val agg = spark.readStream
      .schema("ts TIMESTAMP, metric STRING, v DOUBLE")
      .parquet(eventsDir)
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), Seq("metric"))
      .groupBy(window(col("ts"), "1 hour"), col("team"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("bcast_plan_out")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("bcast-ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) shouldBe true
    val plan = org.apache.spark.sql.GraftBridge.lastStreamingExecutedPlan(q).toString
    plan should include("BroadcastHashJoin")
    plan.contains("SortMergeJoin") shouldBe false
    plan.contains("ShuffledHashJoin") shouldBe false
  }

  test("streaming file sink appends parquet epochs with checkpointing") {
    val out = tmpDir("stream-sink-out")
    val cfg = PipelineConfig(
      pipelineId = "stream-file",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map(
        "path" -> eventsDir, "format" -> "parquet",
        "schema" -> "ts TIMESTAMP, metric STRING, v DOUBLE")),
      transformations = List(TransformConfig("f", "filter", Map("condition" -> "v >= 2.0"))),
      sink = SinkConfig("file", Map("path" -> out)),
      streaming = Some(StreamingConfig(checkpointLocation = Some(tmpDir("ckpt2")))))
    executor.start(cfg).awaitTermination(60000)
    spark.read.parquet(out).count() shouldBe 4
  }

  test("kafka-file STREAMING source: JSON-lines play a topic with the kafka contract") {
    val in = tmpDir("kstream-in")
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "batch1.txt"),
      Seq("""{"metric": "cpu", "v": 1.5}""", """{"metric": "mem", "v": 8.0}""",
        """{"metric": "cpu", "v": 2.5}""").mkString("\n").getBytes)
    val cfg = PipelineConfig(
      pipelineId = "kafka-file-stream",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("kafka-file", Map("path" -> in, "topic" -> "metrics")),
      transformations = List(
        TransformConfig("parse", "map", Map(
          "expressions" -> ("metric:get_json_object(value, '$.metric')," +
            "v:cast(get_json_object(value, '$.v') as double)"),
          "project" -> "true", "keep" -> "topic")),
        TransformConfig("f", "filter", Map("condition" -> "v > 2.0"))),
      sink = SinkConfig("memory", Map("queryName" -> "kfs_out")),
      streaming = Some(StreamingConfig(checkpointLocation = Some(tmpDir("ckpt-kfs")))))
    executor.start(cfg).awaitTermination(60000)
    val out = spark.table("kfs_out")
    out.columns.toSeq shouldBe Seq("topic", "metric", "v")
    out.collect().map(r => (r.getString(1), r.getDouble(2))).toSet shouldBe
      Set(("mem", 8.0), ("cpu", 2.5))
    out.select("topic").distinct().collect().head.getString(0) shouldBe "metrics"
  }

  test("stateless curation gates run unchanged on a stream (blocklist + quality + url)") {
    val in = tmpDir("curation-stream-in")
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "docs.txt"), Seq(
      """{"u": "HTTPS://WWW.A.COM:443/x?utm_source=s", "t": "the quick brown fox jumps over the lazy dog today"}""",
      """{"u": "http://b.com/y", "t": "win big casino bonus now the best of the offers today"}""",
      """{"u": "http://c.com/z", "t": "plain useful prose with the usual words of the day in it"}""")
      .mkString("\n").getBytes)
    val cfg = PipelineConfig(
      pipelineId = "curation-stream",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("kafka-file", Map("path" -> in, "topic" -> "docs")),
      transformations = List(
        TransformConfig("parse", "map", Map(
          "expressions" -> ("url:get_json_object(value, '$.u')," +
            "text:get_json_object(value, '$.t')"),
          "project" -> "true")),
        TransformConfig("canon", "url_normalize",
          Map("column" -> "url", "appendDomain" -> "domain")),
        TransformConfig("badwords", "blocklist", Map(
          "textColumn" -> "text", "terms" -> "casino bonus", "mode" -> "filter")),
        TransformConfig("gate", "quality_rules", Map(
          "textColumn" -> "text", "mode" -> "filter",
          "minWords" -> "5", "minStopwords" -> "1", "minAlphaFraction" -> "0.5"))),
      sink = SinkConfig("memory", Map("queryName" -> "curation_out")),
      streaming = Some(StreamingConfig(checkpointLocation = Some(tmpDir("ckpt-cur")))))
    executor.start(cfg).awaitTermination(60000)
    val out = spark.table("curation_out")
    out.count() shouldBe 2 // the casino-bonus doc is gone
    out.collect().map(r => (r.getAs[String]("url"), r.getAs[String]("domain"))).toSet shouldBe
      Set(("https://a.com/x", "a.com"), ("http://c.com/z", "c.com"))
  }

  test("tokenizer-exact budget gating runs unchanged on a stream: " +
    "bpe_token_count + filter + bpe_tokenize emit=ids, zero state") {
    import spark.implicits._
    // the persisted store from "yesterday's" batch train — loaded once at
    // plan time (O(numMerges) driver read), then the encode is a pure
    // per-row projection: nothing for the state store to hold
    val storeDir = tmpDir("stream-bpe-store")
    graft.text.Bpe.mergesFrame(
        Seq("low low low low low lower lower",
          "newest newest newest newest newest newest",
          "widest widest widest").toDF("text"), "text",
        numMerges = 6, maxWords = 100)
      .write.mode("overwrite").parquet(storeDir)
    spark.read.parquet(storeDir).createOrReplaceTempView("v_stream_bpe")
    val in = tmpDir("bpe-stream-in")
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "docs.txt"), Seq(
      """{"id": 1, "t": "low lowest"}""",
      """{"id": 2, "t": "newest newest newest"}""",
      """{"id": 3, "t": "low"}""")
      .mkString("\n").getBytes)
    val cfg = PipelineConfig(
      pipelineId = "bpe-stream",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("kafka-file", Map("path" -> in, "topic" -> "docs")),
      transformations = List(
        TransformConfig("parse", "map", Map(
          "expressions" -> ("id:cast(get_json_object(value, '$.id') as bigint)," +
            "text:get_json_object(value, '$.t')"),
          "project" -> "true")),
        TransformConfig("count", "bpe_token_count", Map(
          "textColumn" -> "text", "mergesView" -> "v_stream_bpe")),
        TransformConfig("gate", "filter", Map(
          "condition" -> "n_bpe_tokens >= 4")),
        TransformConfig("ids", "bpe_tokenize", Map(
          "textColumn" -> "text", "mergesView" -> "v_stream_bpe",
          "emit" -> "ids"))),
      sink = SinkConfig("memory", Map("queryName" -> "bpe_stream_out")),
      streaming = Some(StreamingConfig(checkpointLocation = Some(tmpDir("ckpt-bpe")))))
    executor.start(cfg).awaitTermination(60000)
    val out = spark.table("bpe_stream_out")
    // doc 3 ("low" = 2 tokens) fails the 4-token gate; survivors carry the
    // SAME ids the batch encode produces (golden: gen_golden_bpe.py)
    out.orderBy("id").select("id", "n_bpe_tokens", "input_ids")
      .as[(Long, Int, Seq[Int])].collect().toSeq shouldBe Seq(
        (1L, 4, Seq(16, 1, 16, 14)),   // low </w> low est</w>
        (2L, 9, Seq(6, 17, 14, 6, 17, 14, 6, 17, 14)))
  }

  test("trained language routing runs unchanged on a stream: " +
    "lang_classify from a persisted store + filter, zero state") {
    import spark.implicits._
    // the persisted model from "yesterday's" batch train — one bounded
    // driver read at plan time, then classification is a pure per-row
    // projection: nothing for the state store to hold
    val storeDir = tmpDir("stream-lm-store")
    graft.text.ChargramLm.modelFrame(
        Seq(("en", "the thin then theft tenth net ten tent"),
          ("el", "αλφα βητα γαμμα δελτα γαλα")).toDF("lang", "text"),
        "lang", "text", n = 2)
      .write.mode("overwrite").parquet(storeDir)
    spark.read.parquet(storeDir).createOrReplaceTempView("v_stream_lm")
    val in = tmpDir("lm-stream-in")
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "docs.txt"), Seq(
      """{"id": 1, "t": "tenth then net"}""",
      """{"id": 2, "t": "γαμμα αλφα"}""",
      """{"id": 3, "t": "x"}""")
      .mkString("\n").getBytes)
    val cfg = PipelineConfig(
      pipelineId = "lm-stream",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("kafka-file", Map("path" -> in, "topic" -> "docs")),
      transformations = List(
        TransformConfig("parse", "map", Map(
          "expressions" -> ("id:cast(get_json_object(value, '$.id') as bigint)," +
            "text:get_json_object(value, '$.t')"),
          "project" -> "true")),
        TransformConfig("lang", "lang_classify", Map(
          "textColumn" -> "text", "modelView" -> "v_stream_lm")),
        TransformConfig("route", "filter", Map(
          "condition" -> "lang_pred <> 'und'"))),
      sink = SinkConfig("memory", Map("queryName" -> "lm_stream_out")),
      streaming = Some(StreamingConfig(checkpointLocation = Some(tmpDir("ckpt-lm")))))
    executor.start(cfg).awaitTermination(60000)
    val out = spark.table("lm_stream_out")
    // the gram-less doc routes out as 'und'; survivors carry the SAME
    // predictions the batch classify produces
    out.orderBy("id").select("id", "lang_pred")
      .as[(Long, String)].collect().toSeq shouldBe Seq(
        (1L, "en"), (2L, "el"))
  }

  test("foreachBatch path drives a batch sink (kafka-file double) per epoch") {
    val out = tmpDir("stream-kafka-out")
    val cfg = PipelineConfig(
      pipelineId = "stream-kafka",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map(
        "path" -> eventsDir, "format" -> "parquet",
        "schema" -> "ts TIMESTAMP, metric STRING, v DOUBLE")),
      sink = SinkConfig("kafka-file", Map("path" -> out)),
      streaming = Some(StreamingConfig(checkpointLocation = Some(tmpDir("ckpt3")))))
    executor.start(cfg).awaitTermination(60000)
    val lines = spark.read.text(out)
    lines.count() shouldBe 5
    lines.selectExpr("get_json_object(value, '$.metric') AS m")
      .where("m IS NOT NULL").count() shouldBe 5
  }

  test("streaming dedup: duplicate event ids collapse; watermark variant bounds state") {
    val dir = tmpDir("stream-dup-in")
    Seq(
      ("2024-01-01 10:00:10", 1L, 1.0), ("2024-01-01 10:00:11", 1L, 1.0), // dup id 1
      ("2024-01-01 10:00:20", 2L, 2.0), ("2024-01-01 10:00:21", 2L, 2.0), // dup id 2
      ("2024-01-01 10:00:30", 3L, 3.0))
      .toDF("t", "id", "v")
      .selectExpr("CAST(t AS TIMESTAMP) AS ts", "id", "v")
      .write.mode("overwrite").parquet(dir)
    val cfg = PipelineConfig(
      pipelineId = "stream-dedup",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map(
        "path" -> dir, "format" -> "parquet",
        "schema" -> "ts TIMESTAMP, id BIGINT, v DOUBLE")),
      sink = SinkConfig("memory", Map("queryName" -> "stream_dedup_out")),
      streaming = Some(StreamingConfig(
        checkpointLocation = Some(tmpDir("ckpt-dedup")),
        watermarkColumn = Some("ts"), watermarkDelay = Some("10 minutes"),
        dedupColumns = Some("id"))))
    executor.start(cfg).awaitTermination(60000)
    val out = spark.table("stream_dedup_out")
    out.count() shouldBe 3
    out.select("id").as[Long].collect().toSet shouldBe Set(1L, 2L, 3L)
    // the plan carries the watermark-bounded dedup operator, not the
    // unbounded-state one
    val cfg2 = cfg.copy(streaming = cfg.streaming.map(_.copy(
      checkpointLocation = Some(tmpDir("ckpt-dedup2")))),
      sink = SinkConfig("memory", Map("queryName" -> "stream_dedup_out2")))
    val q2 = executor.start(cfg2)
    q2.awaitTermination(60000)
    q2.lastProgress.stateOperators.map(_.operatorName) should contain ("dedupeWithinWatermark")
  }

  test("incremental exact dedup on a stream: dedup_against drops already-" +
    "ingested text via a STATELESS stream-static anti-join") {
    val in = tmpDir("incr-dedup-in")
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "docs.txt"), Seq(
      """{"id": 1, "t": "already ingested yesterday"}""",
      """{"id": 2, "t": "genuinely new today"}""",
      """{"id": 3, "t": "  Already Ingested Yesterday  "}""", // trim+lower variant
      """{"id": 4, "t": "another brand new document"}""")
      .mkString("\n").getBytes)
    // yesterday's corpus, registered like join's rightDataset
    Seq("already ingested yesterday", "some other old doc").toDF("text")
      .createOrReplaceTempView("corpus_so_far")
    val cfg = PipelineConfig(
      pipelineId = "incr-dedup-stream",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("kafka-file", Map("path" -> in, "topic" -> "docs")),
      transformations = List(
        TransformConfig("parse", "map", Map(
          "expressions" -> ("id:CAST(get_json_object(value, '$.id') AS BIGINT)," +
            "text:get_json_object(value, '$.t')"),
          "project" -> "true")),
        TransformConfig("drop-old", "dedup_against", Map(
          "textColumn" -> "text", "referenceView" -> "corpus_so_far"))),
      sink = SinkConfig("memory", Map("queryName" -> "incr_dedup_out")),
      streaming = Some(StreamingConfig(checkpointLocation = Some(tmpDir("ckpt-incr")))))
    val q = executor.start(cfg)
    q.awaitTermination(60000)
    val out = spark.table("incr_dedup_out")
    // both copies of the reference text drop (normalization = trim+lower,
    // the same hash key as the batch path); the new docs pass
    out.select("id").as[Long].collect().toSet shouldBe Set(2L, 4L)
    // the anti-join is stream-static: stateless, nothing in the state store
    q.lastProgress.stateOperators shouldBe empty
  }

  test("benchmark decontamination on a stream: the bloom path is a " +
    "stateless per-row filter (sketch built once from the static side)") {
    val in = tmpDir("decon-stream-in")
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "docs.txt"), Seq(
      """{"id": 1, "t": "the secret benchmark question about rivers"}""",
      """{"id": 2, "t": "ordinary training text with no overlap at all"}""",
      """{"id": 3, "t": "completely unrelated prose for the corpus"}""")
      .mkString("\n").getBytes)
    Seq("the secret benchmark question about rivers and lakes")
      .toDF("text").createOrReplaceTempView("eval_set_stream")
    val cfg = PipelineConfig(
      pipelineId = "decon-stream",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("kafka-file", Map("path" -> in, "topic" -> "docs")),
      transformations = List(
        TransformConfig("parse", "map", Map(
          "expressions" -> ("id:CAST(get_json_object(value, '$.id') AS BIGINT)," +
            "text:get_json_object(value, '$.t')"),
          "project" -> "true")),
        TransformConfig("decon", "decontaminate", Map(
          "idColumn" -> "id", "textColumn" -> "text",
          "benchDataset" -> "eval_set_stream", "method" -> "bloom"))),
      sink = SinkConfig("memory", Map("queryName" -> "decon_stream_out")),
      streaming = Some(StreamingConfig(checkpointLocation = Some(tmpDir("ckpt-decon")))))
    val q = executor.start(cfg)
    q.awaitTermination(60000)
    val out = spark.table("decon_stream_out")
    // the doc sharing a 3-gram with the eval set drops; clean docs pass
    out.select("id").as[Long].collect().toSet shouldBe Set(2L, 3L)
    q.lastProgress.stateOperators shouldBe empty
  }

  test("watermark drops late data: rows behind the watermark never reach the sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val windowed = graft.operators.WindowTransform(
      mem.toDF().toDF("ts", "v").withWatermark("ts", "10 minutes"),
      graft.config.TransformConfig("w", "windowing", Map(
        "timeColumn" -> "ts", "windowDuration" -> "10 minutes",
        "aggregations" -> "total:sum(v)")),
      graft.api.RunContext(spark, "late", "run"))
    val q = windowed.writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir("late-ckpt"))
      .format("memory").queryName("late_out").start()
    try {
      mem.addData((ts("10:00:00"), 1.0), (ts("10:05:00"), 2.0))
      q.processAllAvailable()
      mem.addData((ts("11:00:00"), 5.0)) // watermark → 10:50, closes the 10:00 window
      q.processAllAvailable()
      mem.addData((ts("10:02:00"), 100.0)) // LATE: behind watermark → must be dropped
      q.processAllAvailable()
      mem.addData((ts("12:00:00"), 7.0)) // closes the 11:00 window
      q.processAllAvailable()
      val out = spark.table("late_out")
        .selectExpr("window_start", "total").collect()
        .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
      out("2024-01-01 10:00:00.0") shouldBe 3.0 // NOT 103.0 - late row excluded
      out("2024-01-01 11:00:00.0") shouldBe 5.0
    } finally q.stop()
  }

  test("streaming → foreachBatch → JDBC upsert: effectively-once across checkpoint replays") {
    // the SURVEY §7.4 hard part #1: an idempotent keyed sink makes a full
    // replay (fresh checkpoint) converge to the same table state
    val db = new graft.testkit.FakeJdbcDb(spark, tmpDir("stream-db"))
    Seq((0L, "seed", 0.0)).toDF("event_id", "metric", "v")
      .write.parquet(db.tablePath("metrics"))
    val in = tmpDir("stream-upsert-in")
    Seq((1L, "cpu", 1.0), (2L, "cpu", 2.0), (3L, "mem", 8.0))
      .toDF("event_id", "metric", "v").write.mode("overwrite").parquet(in)

    val sinks = graft.runtime.Registries.sinks()
    sinks.register("postgres", db.sink)
    val streamingExec = new StreamingExecutor(sinks = sinks)
    def cfg = PipelineConfig(
      pipelineId = "stream-upsert",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map(
        "path" -> in, "format" -> "parquet",
        "schema" -> "event_id BIGINT, metric STRING, v DOUBLE")),
      sink = SinkConfig("postgres",
        Map("url" -> "jdbc:postgresql://h/db", "dbtable" -> "metrics",
          "primaryKey" -> "event_id"),
        WriteMode.Upsert),
      streaming = Some(StreamingConfig(checkpointLocation = Some(tmpDir("up-ckpt")))))

    streamingExec.start(cfg).awaitTermination(60000)
    val after1 = db.read("metrics").orderBy("event_id")
      .as[(Long, String, Double)].collect()
    after1.map(_._1) shouldBe Array(0L, 1L, 2L, 3L)

    // full replay with a FRESH checkpoint (new cfg instance) → same state
    streamingExec.start(cfg).awaitTermination(60000)
    db.read("metrics").orderBy("event_id")
      .as[(Long, String, Double)].collect() shouldBe after1
  }

  test("same-checkpoint restart: resumed offsets skip consumed epochs, new " +
    "input flows, the upsert table converges") {
    // the OTHER half of the recovery story (the test above proves a fresh-
    // checkpoint full replay converges): stop a micro-batch pipeline, add
    // new input, restart with the SAME checkpointLocation — old epochs
    // must NOT be reprocessed (batch ids resume past run 1's and the
    // restarted run reads ONLY the new file's rows) and the keyed sink
    // must end correct (update applied, new key added, old keys intact)
    val db = new graft.testkit.FakeJdbcDb(spark, tmpDir("restart-db"))
    Seq((0L, "seed", 0.0)).toDF("event_id", "metric", "v")
      .write.parquet(db.tablePath("metrics"))
    val in = tmpDir("restart-in")
    Seq((1L, "cpu", 1.0), (2L, "cpu", 2.0), (3L, "mem", 8.0))
      .toDF("event_id", "metric", "v")
      .write.mode("overwrite").parquet(in + "/batch1")
    val ckpt = tmpDir("restart-ckpt") // ONE checkpoint for both runs
    val sinks = graft.runtime.Registries.sinks()
    sinks.register("postgres", db.sink)
    val streamingExec = new StreamingExecutor(sinks = sinks)
    def cfg = PipelineConfig(
      pipelineId = "stream-restart",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map(
        // glob over epoch subdirs so run 2 discovers files added later
        "path" -> (in + "/*"), "format" -> "parquet",
        "schema" -> "event_id BIGINT, metric STRING, v DOUBLE")),
      sink = SinkConfig("postgres",
        Map("url" -> "jdbc:postgresql://h/db", "dbtable" -> "metrics",
          "primaryKey" -> "event_id"),
        WriteMode.Upsert),
      streaming = Some(StreamingConfig(checkpointLocation = Some(ckpt))))

    val q1 = streamingExec.start(cfg)
    q1.awaitTermination(60000)
    val run1Batches = q1.recentProgress.map(_.batchId)
    val run1Rows = q1.recentProgress.map(_.numInputRows).sum
    run1Rows shouldBe 3L
    db.read("metrics").count() shouldBe 4L // seed + 3

    // between runs: one updated key (3 gets a new v) and one new key (4)
    Seq((3L, "mem", 9.5), (4L, "gpu", 4.0))
      .toDF("event_id", "metric", "v")
      .write.mode("overwrite").parquet(in + "/batch2")

    val q2 = streamingExec.start(cfg)
    q2.awaitTermination(60000)
    // offsets resumed: every restarted batch id is beyond run 1's, and
    // the run ingests ONLY the new file's rows — nothing re-read
    val run2Progress = q2.recentProgress.filter(_.numInputRows > 0)
    run2Progress should not be empty
    all(run2Progress.map(_.batchId)) should be > run1Batches.max
    q2.recentProgress.map(_.numInputRows).sum shouldBe 2L
    // the table ends correct: update applied, insert added, rest intact
    db.read("metrics").orderBy("event_id")
      .as[(Long, String, Double)].collect().toSeq shouldBe Seq(
        (0L, "seed", 0.0), (1L, "cpu", 1.0), (2L, "cpu", 2.0),
        (3L, "mem", 9.5), (4L, "gpu", 4.0))
  }

  test("STATEFUL recovery is provider-independent: streaming-dedup state " +
    "survives a same-checkpoint restart under BOTH the hdfs and rocksdb " +
    "state stores; bad provider values refuse with guidance") {
    // the restart test above proves OFFSET recovery on a stateless
    // pipeline; this one proves the stateful half — dropDuplicates state
    // written by run 1 must suppress run 2's replayed key — and runs the
    // identical contract under each stateStoreProvider backend
    for (provider <- Seq("hdfs", "rocksdb")) {
      val in = tmpDir(s"ssr-in-$provider")
      val out = tmpDir(s"ssr-out-$provider")
      val ckpt = tmpDir(s"ssr-ckpt-$provider")
      Seq((1L, "cpu"), (2L, "cpu"), (3L, "mem"))
        .toDF("event_id", "metric")
        .write.mode("overwrite").parquet(in + "/batch1")
      def cfg = PipelineConfig(
        pipelineId = s"stateful-restart-$provider",
        executionMode = ExecutionMode.MicroBatch,
        source = SourceConfig("file", Map(
          "path" -> (in + "/*"), "format" -> "parquet",
          "schema" -> "event_id BIGINT, metric STRING")),
        sink = SinkConfig("file", Map("path" -> out)),
        streaming = Some(StreamingConfig(
          checkpointLocation = Some(ckpt),
          dedupColumns = Some("event_id"),
          stateStoreProvider = Some(provider))))
      executor.start(cfg).awaitTermination(60000)
      // the knob actually landed in the session (Spark pins it per query)
      val pinned = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      if (provider == "rocksdb") pinned should include ("RocksDB")
      else pinned should include ("HDFSBacked")
      spark.read.parquet(out).count() shouldBe 3L
      // run 2 replays key 3 (must be suppressed BY RECOVERED STATE) and
      // introduces key 4 (must flow)
      Seq((3L, "mem"), (4L, "gpu")).toDF("event_id", "metric")
        .write.mode("overwrite").parquet(in + "/batch2")
      executor.start(cfg).awaitTermination(60000)
      val rows = spark.read.parquet(out)
      rows.count() shouldBe 4L
      rows.groupBy("event_id").count().where("count > 1").count() shouldBe 0L
      rows.select("event_id").as[Long].collect().sorted shouldBe
        Array(1L, 2L, 3L, 4L)
    }
    // unknown provider strings refuse before any query starts
    val bad = PipelineConfig(
      pipelineId = "bad-provider",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map(
        "path" -> eventsDir, "format" -> "parquet",
        "schema" -> "ts TIMESTAMP, metric STRING, v DOUBLE")),
      sink = SinkConfig("memory", Map("queryName" -> "nope_out")),
      streaming = Some(StreamingConfig(
        checkpointLocation = Some(tmpDir("bad-ckpt")),
        stateStoreProvider = Some("leveldb"))))
    (the[graft.api.ConfigException] thrownBy executor.start(bad))
      .getMessage should include ("hdfs|rocksdb")
    // the knob is deliberately sticky per session (a streaming pipeline
    // owns its session) — restore the default so later tests in this
    // SHARED spec session exercise the stock provider
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("flatMapGroupsWithState sessionization: sessions emit on gap or watermark timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val mem = MemoryStream[Sessionize.Event]
    val sessions = Sessionize.sessions(
      mem.toDS().withWatermark("ts", "0 seconds").as[Sessionize.Event],
      gapMs = 10 * 60 * 1000) // 10-minute gap
    val q = sessions.writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir("sess-ckpt"))
      .format("memory").queryName("sess_out").start()
    try {
      // user 1: two events 5 min apart (one session), then a 30-min jump (new session)
      mem.addData(
        Sessionize.Event("1", ts("10:00:00"), 1.0),
        Sessionize.Event("1", ts("10:05:00"), 2.0),
        Sessionize.Event("2", ts("10:00:00"), 8.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event("1", ts("10:45:00"), 4.0))
      q.processAllAvailable()
      // advance the watermark far enough to time out every open session
      mem.addData(Sessionize.Event("9", ts("12:00:00"), 0.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event("9", ts("14:00:00"), 0.0))
      q.processAllAvailable()
      val out = spark.table("sess_out").as[Sessionize.Session].collect()
        .map(s => (s.user_id, s.session_start.toString, s.n_events, s.total_value)).toSet
      out should contain(("1", "2024-01-01 10:00:00.0", 2L, 3.0)) // closed by gap
      out should contain(("1", "2024-01-01 10:45:00.0", 1L, 4.0)) // closed by timeout
      out should contain(("2", "2024-01-01 10:00:00.0", 1L, 8.0)) // closed by timeout
    } finally q.stop()
  }

  test("streaming sessionize survives null timestamps/values and splits " +
    "off a too-old late event instead of swallowing it into the open session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    // drive through the TRANSFORM so its null filtering/coalescing runs:
    // (key, ts, value) rows with a null ts and a null value planted
    val mem = MemoryStream[(String, Option[java.sql.Timestamp], Option[Double])]
    // 2-hour delay so the deliberately-late 11:00 event is ADMITTED (the
    // watermark after batch 1 sits at 10:05) and exercises the split path
    val input = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "2 hours")
    val out = SessionizeTransform(input,
      TransformConfig("s", "sessionize", Map(
        "keyColumn" -> "user_id", "tsColumn" -> "ts",
        "valueColumn" -> "value", "gap" -> "10 minutes")),
      graft.api.RunContext(spark, "t", "r"))
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir("sessnull-ckpt"))
      .format("memory").queryName("sessnull_out").start()
    try {
      mem.addData(
        ("1", Some(ts("12:00:00")), Some(1.0)),
        ("1", Some(ts("12:05:00")), None),      // null value: counts as 0
        ("1", None, Some(99.0)))                 // null ts: dropped, no NPE
      q.processAllAvailable()
      // late events older than the open session start by > gap become
      // their own closed session, not a 55-minute silent hole — and two
      // of them within `gap` of EACH OTHER merge into ONE session (batch
      // gaps-and-islands parity), not two singletons
      mem.addData(
        ("1", Some(ts("11:00:00")), Some(7.0)),
        ("1", Some(ts("11:05:00")), Some(3.0)))
      q.processAllAvailable()
      mem.addData(("9", Some(ts("15:00:00")), Some(0.0)))
      q.processAllAvailable()
      mem.addData(("9", Some(ts("18:00:00")), Some(0.0)))
      q.processAllAvailable()
      val rows = spark.table("sessnull_out")
        .select(col("user_id"), col("session_start").cast("string"),
          col("n_events"), col("total_value"))
        .as[(String, String, Long, Double)].collect().toSet
      rows should contain(("1", "2024-01-01 11:00:00", 2L, 10.0)) // split off, merged
      rows should contain(("1", "2024-01-01 12:00:00", 2L, 1.0)) // null v = 0
      rows.count(_._1 == "1") shouldBe 2
    } finally q.stop()
  }

  test("streaming sessionize re-merges a too-old run when a later in-batch " +
    "event extends the open session back to within gap of it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val mem = MemoryStream[Sessionize.Event]
    val sessions = Sessionize.sessions(
      mem.toDS().withWatermark("ts", "2 hours").as[Sessionize.Event],
      gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir("sessmerge-ckpt"))
      .format("memory").queryName("sessmerge_out").start()
    try {
      mem.addData(
        Sessionize.Event("1", ts("12:00:00"), 1.0),
        Sessionize.Event("1", ts("12:05:00"), 2.0))
      q.processAllAvailable()
      // one late batch: 11:45 classifies too-old against the open start
      // (12:00 - gap = 11:50), then 11:52 is admitted and pulls the start
      // back to 11:52 — leaving 11:45 within gap of it. Batch
      // gaps-and-islands semantics: ONE session 11:45..12:05, so the
      // too-old run must re-merge instead of closing as an overlapping
      // separate session
      mem.addData(
        Sessionize.Event("1", ts("11:45:00"), 4.0),
        Sessionize.Event("1", ts("11:52:00"), 8.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event("9", ts("15:00:00"), 0.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event("9", ts("18:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessmerge_out").as[Sessionize.Session].collect()
        .filter(_.user_id == "1")
        .map(s => (s.session_start.toString, s.n_events, s.total_value)).toSet
      rows shouldBe Set(("2024-01-01 11:45:00.0", 4L, 15.0))
    } finally q.stop()
  }

  test("streaming executor validates transforms and sinks BEFORE starting " +
    "the query, like the batch executor") {
    // a misconfigured foreachBatch sink (jdbc missing url/dbtable) must
    // throw at start(), not inside the first epoch after the checkpoint
    // directory already exists
    val cfg = PipelineConfig(
      pipelineId = "prevalidate",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map(
        "path" -> eventsDir, "format" -> "parquet",
        "schema" -> "ts TIMESTAMP, metric STRING, v DOUBLE")),
      sink = SinkConfig("postgres", Map.empty),
      streaming = Some(StreamingConfig(
        checkpointLocation = Some(tmpDir("pv-ckpt")))))
    val e = intercept[graft.api.ConfigException] { executor.start(cfg) }
    e.getMessage should include ("url")
    // and a typo'd transform column is caught by validate() with the
    // guided message, not a raw analysis error
    val cfg2 = cfg.copy(
      sink = SinkConfig("memory", Map("queryName" -> "pv_out")),
      transformations = List(TransformConfig("a", "aggregation", Map(
        "groupBy" -> "nope", "aggregations" -> "n:count(*)"))))
    val e2 = intercept[graft.api.ConfigException] { executor.start(cfg2) }
    e2.getMessage should include ("nope")
  }

  /** A micro-batch file→file pipeline whose checkpoint dir does not exist
    * yet, so a refusal can be shown to come before the query creates it. */
  private def refusable(id: String): (PipelineConfig, java.nio.file.Path) = {
    val ckpt = java.nio.file.Paths.get(tmpDir(s"$id-root"), "ckpt")
    (PipelineConfig(
      pipelineId = id,
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map(
        "path" -> eventsDir, "format" -> "parquet",
        "schema" -> "ts TIMESTAMP, metric STRING, v DOUBLE")),
      sink = SinkConfig("file", Map("path" -> tmpDir(s"$id-out"))),
      streaming = Some(StreamingConfig(checkpointLocation = Some(ckpt.toString)))), ckpt)
  }

  private def refusedBeforeStart(cfg: PipelineConfig, ckpt: java.nio.file.Path): String = {
    val active = spark.streams.active.length
    val e = intercept[graft.api.ConfigException] { executor.start(cfg) }
    java.nio.file.Files.exists(ckpt) shouldBe false
    spark.streams.active.length shouldBe active
    e.getMessage
  }

  test("streaming start refuses a quality block it would ignore, before the query starts") {
    val (cfg, ckpt) = refusable("refuse-quality")
    refusedBeforeStart(cfg.copy(quality = Some(QualityConfig(
      nullChecks = List(NullCheck("metric", NullAction.Fail))))), ckpt) should
      startWith ("quality: not supported in micro-batch mode")
  }

  test("streaming start refuses a performance block it would ignore, before the query starts") {
    val (cfg, ckpt) = refusable("refuse-perf")
    refusedBeforeStart(cfg.copy(performance = Some(PerformanceConfig(
      shufflePartitions = Some(3)))), ckpt) should
      startWith ("performance: not supported in micro-batch mode")
  }

  test("streaming file sink refuses the batch sink's layout options, before the query starts") {
    val (cfg, ckpt) = refusable("refuse-layout")
    for (o <- graft.sinks.FileSink.layoutOptions)
      refusedBeforeStart(cfg.copy(sink = cfg.sink.copy(
        options = cfg.sink.options + (o -> "2"))), ckpt) should
        startWith (s"file sink: '$o' is not supported by the streaming file sink")
  }

  test("streaming start refuses a bad step before its checkpoint dir exists") {
    val (cfg, ckpt) = refusable("refuse-step")
    refusedBeforeStart(cfg.copy(transformations = List(
      TransformConfig("rank", "window_rank", Map("partitionBy" -> "metric", "orderBy" -> "ts",
        "function" -> "rnk")))), ckpt) shouldBe
      "window_rank: function must be one of row_number|rank|dense_rank|percent_rank|ntile, " +
        "got 'rnk'"
  }

  test("streaming file sink passes user options through (compression)") {
    val outDir = tmpDir("zstd-out")
    val cfg = PipelineConfig(
      pipelineId = "zstd-sink",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map(
        "path" -> eventsDir, "format" -> "parquet",
        "schema" -> "ts TIMESTAMP, metric STRING, v DOUBLE")),
      sink = SinkConfig("file", Map(
        "path" -> outDir, "format" -> "parquet", "compression" -> "zstd")),
      streaming = Some(StreamingConfig(
        checkpointLocation = Some(tmpDir("zstd-ckpt")))))
    val q = executor.start(cfg)
    q.awaitTermination(60000)
    // zstd parquet part files carry the codec in the file name
    new java.io.File(outDir).listFiles().map(_.getName)
      .exists(_.endsWith(".zstd.parquet")) shouldBe true
  }

  test("streaming file source without explicit schema is rejected") {
    val cfg = PipelineConfig(
      pipelineId = "no-schema",
      source = SourceConfig("file", Map("path" -> eventsDir)),
      sink = SinkConfig("memory", Map.empty))
    an[graft.api.ConfigException] should be thrownBy executor.start(cfg)
  }

  test("BATCH sessionize emits every session including each key's final " +
    "open one, works on string keys, and keeps the key's input type") {
    import graft.api.RunContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val ctx = RunContext(spark, "t", "r")
    // string keys; u1 has two sessions (30-min gap breaks at 10:45), u2
    // one single-event session — a state-store batch run would drop the
    // trailing open sessions entirely
    val batchIn = Seq(
      ("u1", ts("10:00:00"), 1.0), ("u1", ts("10:05:00"), 2.0),
      ("u1", ts("10:45:00"), 4.0), ("u2", ts("10:00:00"), 8.0))
      .toDF("user", "ts", "value")
    val out = graft.streaming.SessionizeTransform(batchIn,
      graft.config.TransformConfig("s", "sessionize", Map(
        "keyColumn" -> "user", "tsColumn" -> "ts",
        "valueColumn" -> "value", "gap" -> "30 minutes")), ctx)
    out.columns shouldBe Array("user", "session_start", "session_end",
      "n_events", "total_value")
    out.schema("user").dataType shouldBe org.apache.spark.sql.types.StringType
    val rows = out.collect().map(r => (r.getString(0),
      r.getTimestamp(1).toString, r.getLong(3), r.getDouble(4))).toSet
    rows shouldBe Set(
      ("u1", "2024-01-01 10:00:00.0", 2L, 3.0),
      ("u1", "2024-01-01 10:45:00.0", 1L, 4.0),
      ("u2", "2024-01-01 10:00:00.0", 1L, 8.0))
    // numeric key round-trips its type through the string grouping
    val numeric = graft.streaming.SessionizeTransform(
      Seq((7L, ts("10:00:00"), 1.0)).toDF("uid", "ts", "v"),
      graft.config.TransformConfig("s", "sessionize", Map(
        "keyColumn" -> "uid", "tsColumn" -> "ts", "gap" -> "5 minutes")), ctx)
    numeric.schema("uid").dataType shouldBe org.apache.spark.sql.types.LongType
    numeric.collect().map(_.getLong(0)).toSeq shouldBe Seq(7L)
    // binary keys are rejected: the string round-trip is a lossy UTF-8
    // decode, so distinct byte keys could collide and merge sessions
    val e = intercept[graft.api.ConfigException] {
      graft.streaming.SessionizeTransform(
        Seq((Array[Byte](0, -1), ts("10:00:00"), 1.0)).toDF("bkey", "ts", "v"),
        graft.config.TransformConfig("s", "sessionize", Map(
          "keyColumn" -> "bkey", "tsColumn" -> "ts", "gap" -> "5 minutes")), ctx)
    }
    e.getMessage should include("binary")
  }

  test("half-configured watermark and unknown trigger strings are rejected " +
    "loudly instead of silently ignored") {
    def cfg(st: StreamingConfig) = PipelineConfig(
      pipelineId = "bad-streaming",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map(
        "path" -> eventsDir, "format" -> "parquet",
        "schema" -> "ts TIMESTAMP, metric STRING, v DOUBLE")),
      sink = SinkConfig("memory", Map("queryName" -> "bad_out")),
      streaming = Some(st))
    val e1 = intercept[graft.api.ConfigException] {
      executor.start(cfg(StreamingConfig(
        checkpointLocation = Some(tmpDir("ckpt-half")),
        watermarkColumn = Some("ts")))) // delay forgotten
    }
    e1.getMessage should include("must be set together")
    val e2 = intercept[graft.api.ConfigException] {
      executor.start(cfg(StreamingConfig(
        checkpointLocation = Some(tmpDir("ckpt-trig")),
        trigger = Some("ProcessingTime = 5 seconds")))) // wrong spelling
    }
    e2.getMessage should include("streaming.trigger")
  }
}
