package graft.runtime

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.config.YamlConfigParser
import graft.streaming.StreamingExecutor

/** A session compiles each generated class once: the second run of a
  * pipeline, batch or streaming, on the same session and the same input
  * compiles nothing. This is what [[SessionDefaults.codegenCache]] buys.
  * Without it Spark's 100-entry cache evicts classes between runs, and
  * each streaming query's cloned session gets its own classloader, which
  * keys the cache apart, so every streaming run recompiles. */
class CodegenCacheSpec extends SparkTestBase {
  import spark.implicits._
  private val parser = new YamlConfigParser()

  /** Janino compiles `body` causes anywhere in the JVM. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a second run of a 3-transform batch pipeline compiles no class") {
    val in = tmpDir("codegen-batch-in")
    (0 until 2000).map(i => (i.toLong, i % 7L, i * 0.5)).toDF("id", "grp", "value")
      .write.mode("overwrite").parquet(in)
    val root = tmpDir("codegen-batch-out")
    def run(out: String): Unit = {
      val m = new PipelineExecutor().execute(parser.parse(
        s"""pipelineId: codegen-batch
           |source:
           |  type: file
           |  options:
           |    path: $in
           |    format: parquet
           |transformations:
           |  - name: big
           |    type: filter
           |    options:
           |      condition: "value > 10"
           |  - name: scaled
           |    type: map
           |    options:
           |      expressions: "scaled:value * 2"
           |  - name: rollup
           |    type: aggregation
           |    options:
           |      groupBy: grp
           |      aggregations: "n:count(*),total:sum(scaled)"
           |sink:
           |  type: file
           |  options:
           |    path: $out
           |""".stripMargin))
      withClue(m.error.getOrElse("")) { m.status shouldBe "SUCCESS" }
    }
    run(s"$root/1")
    compiles(run(s"$root/2")) shouldBe 0
    spark.read.parquet(s"$root/2").count() shouldBe 7
  }

  test("a second micro-batch run of a windowed config, on a fresh checkpoint " +
    "and output over the same input, compiles no class") {
    val in = tmpDir("codegen-stream-in")
    (1 to 500).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        (i % 48) * 3600 * 1000L, (i % 10).toLong, i / 100.0)
    }.toDF("event_id", "ms", "user_id", "value")
      .select(col("event_id"), timestamp_millis(col("ms")).as("ts"),
        col("user_id"), col("value"))
      .write.mode("overwrite").parquet(in)
    val root = tmpDir("codegen-stream-out")
    def run(n: Int): Unit = {
      val cfg = parser.parse(
        s"""pipelineId: codegen-stream
           |executionMode: micro-batch
           |source:
           |  type: file
           |  options:
           |    path: $in
           |    format: parquet
           |    schema: "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
           |transformations:
           |  - name: hourly-per-user
           |    type: windowing
           |    options:
           |      timeColumn: ts
           |      windowDuration: "1 hour"
           |      groupBy: user_id
           |      aggregations: "n_events:count(*),total_value:round(sum(value), 2)"
           |sink:
           |  type: file
           |  options:
           |    path: $root/out$n
           |streaming:
           |  checkpointLocation: $root/ck$n
           |  watermarkColumn: ts
           |  watermarkDelay: "2 hours"
           |  outputMode: append
           |  trigger: availableNow
           |  shufflePartitions: 4
           |""".stripMargin)
      // the executor sets the session's shuffle partitions and leaves them
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        val q = new StreamingExecutor().start(cfg)
        q.awaitTermination(120000) shouldBe true
        q.exception shouldBe None
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    run(1)
    compiles(run(2)) shouldBe 0
    spark.read.parquet(s"$root/out2").count() shouldBe
      spark.read.parquet(s"$root/out1").count()
    spark.read.parquet(s"$root/out2").count() should be > 0L
  }
}
