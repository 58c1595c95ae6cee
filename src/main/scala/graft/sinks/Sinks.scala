package graft.sinks

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

import graft.api.{Sink, RunContext, LoadResult, ConfigException}
import graft.config.{ExprUtils, Options, SinkConfig, WriteMode}

/** Count rows through a batch write via an Observation riding the write
  * action itself — real LoadResult.recordsWritten with zero extra jobs. */
private[sinks] object SinkObserve {
  def apply(data: DataFrame, ctx: RunContext)(doWrite: DataFrame => Unit): LoadResult = {
    val obs = new Observation(s"graft_sink_${ctx.runId}_${System.nanoTime()}")
    doWrite(data.observe(obs, count(lit(1)).as("rows")))
    LoadResult(recordsWritten = obs.get.get("rows").map(_.toString.toLong).getOrElse(-1L))
  }
}

/**
 * file — parquet | json | csv | orc with compression, partitionBy
 * (Hive-style dirs → partition pruning for downstream readers), and output
 * file-count control. Reference: loader/S3Loader.scala:27-119.
 *
 * Scale notes: `partitionBy` is what enables partition pruning at read time;
 * `maxRecordsPerFile` bounds file sizes without collapsing parallelism, and
 * is preferred over the reference's `coalesce` knob (which serializes the
 * final stage); both are supported. `buckets` + `bucketBy` (+ optional
 * `sortBy`) hash-bucket the output into a catalog table (`table` option
 * required — bucket layout lives in table metadata, so the path-only reader
 * cannot see it): two tables bucketed the same way join with ZERO exchange
 * — the way a 100 TB fact table joins its dimensions nightly without
 * re-shuffling either side. Read bucketed outputs back with the `table`
 * source, not a path.
 */
object FileSink extends Sink {
  val sinkType = "file"
  /** Options that shape the batch write's layout and never reach Spark's
    * writer; the streaming file sink supports none of them. */
  val layoutOptions = Seq("coalesce", "buckets", "bucketBy", "sortBy", "table",
    "sortWithinPartitions")
  def write(data: DataFrame, config: SinkConfig, ctx: RunContext): LoadResult = {
    val path = config.options.getOrElse("path",
      throw new ConfigException("file sink: 'path' option required"))
    val format = config.options.getOrElse("format", "parquet").toLowerCase
    val mode = config.writeMode match {
      case WriteMode.Append    => SaveMode.Append
      case WriteMode.Overwrite => SaveMode.Overwrite
      case WriteMode.Upsert =>
        throw new ConfigException("file sink: upsert not supported (use a keyed store)")
    }
    val bucketSpec = intOption(config, "buckets").map { n =>
      val cols = ExprUtils.parseColumns(config.options.getOrElse("bucketBy",
        throw new ConfigException("file sink: 'buckets' requires 'bucketBy' columns")))
      (n, cols)
    }
    val coalesce = intOption(config, "coalesce")
    SinkObserve(data, ctx) { observed =>
      val shaped = coalesce.fold(observed)(observed.coalesce)
      // sortWithinPartitions (AFTER coalesce, so the FINAL partitions are
      // the clustered ones): no extra shuffle, but rows land clustered —
      // parquet RLE/dictionary pages compress better and min/max row-group
      // statistics become selective, so downstream filter pushdown skips
      // whole row groups. The cheap half of Z-order.
      val out = config.options.get("sortWithinPartitions")
        .map(s => shaped.sortWithinPartitions(ExprUtils.parseColumns(s).map(col): _*))
        .getOrElse(shaped)
      var writer = out.write.format(format).mode(mode)
        .options(config.options -- Seq("path", "format") -- layoutOptions)
      if (config.partitionBy.nonEmpty) writer = writer.partitionBy(config.partitionBy: _*)
      bucketSpec match {
        case Some((n, cols)) =>
          val table = config.options.getOrElse("table",
            throw new ConfigException(
              "file sink: bucketed output needs a 'table' name (bucket layout lives in catalog metadata)"))
          writer = writer.bucketBy(n, cols.head, cols.tail: _*)
          config.options.get("sortBy").foreach { s =>
            val sc = ExprUtils.parseColumns(s)
            writer = writer.sortBy(sc.head, sc.tail: _*)
          }
          writer.option("path", path).saveAsTable(table) // external: data stays at `path`
        case None => writer.save(path)
      }
    }
  }
  override def validate(config: SinkConfig): List[String] = {
    Seq("buckets", "coalesce").foreach(intOption(config, _))
    if (config.options.contains("path")) Nil else List("file sink: missing 'path'")
  }
  private def intOption(config: SinkConfig, key: String): Option[Int] =
    config.options.get(key).map(Options.int("file sink", key, _))
}

/**
 * kafka — key/value projection then write.format("kafka").
 * Reference: loader/KafkaLoader.scala:26-98 — if keyColumn/valueColumn are
 * configured cast those to string; else key=null, value=to_json(struct(*)).
 * [[KafkaFileSink]] is the connector-free test double (JSON lines out).
 */
object KafkaSink extends Sink {
  val sinkType = "kafka"
  def prepare(data: DataFrame, config: SinkConfig): DataFrame = {
    (config.options.get("keyColumn"), config.options.get("valueColumn")) match {
      case (Some(k), Some(v)) =>
        data.select(col(k).cast("string").as("key"), col(v).cast("string").as("value"))
      case _ =>
        data.select(lit(null).cast("string").as("key"), to_json(struct(data.columns.map(col): _*)).as("value"))
    }
  }
  def write(data: DataFrame, config: SinkConfig, ctx: RunContext): LoadResult = {
    if (config.writeMode != WriteMode.Append)
      throw new ConfigException("kafka sink: only append is supported")
    val topic = config.options.getOrElse("topic",
      throw new ConfigException("kafka sink: 'topic' option required"))
    SinkObserve(data, ctx) { observed =>
      prepare(observed, config).write.format("kafka")
        .options(config.options -- Seq("topic", "keyColumn", "valueColumn"))
        .option("topic", topic)
        .save()
    }
  }
}

/** kafka-file — test double: writes the kafka-prepared `value` column as
  * text lines (the same stand-in shape the sources read). */
object KafkaFileSink extends Sink {
  val sinkType = "kafka-file"
  def write(data: DataFrame, config: SinkConfig, ctx: RunContext): LoadResult = {
    val path = config.options.getOrElse("path",
      throw new ConfigException("kafka-file sink: 'path' option required"))
    SinkObserve(data, ctx) { observed =>
      KafkaSink.prepare(observed, config).select("value").write.mode(SaveMode.Append).text(path)
    }
  }
}
