package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.api._
import graft.config._
import graft.runtime.Registries

/**
 * Honest micro-batch execution — the mode the reference declares (spec
 * FR-022, executionMode: micro-batch) but fakes with batch reads
 * (SURVEY §1.1): real Structured Streaming with readStream, watermarks,
 * windowed aggregation state, and foreachBatch sinks.
 *
 * - File/kafka sources stream natively (`readStream`); file sources
 *   require an explicit schema (streaming cannot infer — and at scale you
 *   want the contract anyway).
 * - Watermark (`streaming.watermarkColumn/Delay`) bounds state for windowed
 *   aggregations; late rows beyond the delay are dropped by Spark's state
 *   store, the standard late-data policy.
 * - Sinks: file sinks use the native streaming writer (exactly-once via
 *   the file sink log); everything else goes through foreachBatch →
 *   the BATCH sink implementation, which for JDBC-upsert gives idempotent
 *   epochs (staging + ON CONFLICT), i.e. effectively-once.
 * - Trigger: availableNow (default; drain-and-stop, what the driver's
 *   tests need) or processingTime=<interval> for continuous pipelines.
 */
final class StreamingExecutor(
    sources: Registry[Source] = Registries.sources(),
    transforms: Registry[Transform] = Registries.transforms(),
    sinks: Registry[Sink] = Registries.sinks()) {

  def start(config: PipelineConfig)(implicit spark: SparkSession): StreamingQuery = {
    refuseUnsupported(config)
    val runId = UUID.randomUUID().toString
    val ctx = RunContext(spark, config.pipelineId, runId)
    val st = config.streaming.getOrElse(StreamingConfig())
    // session-level by necessity (Spark reads it at query planning, then
    // pins it in the offset log); deliberately NOT restored — a streaming
    // pipeline owns its session for its lifetime
    st.shufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    // state-store backend (same session-level lifecycle): "rocksdb" for
    // large-state sessionization / stream-stream joins whose state would
    // blow the heap under the default in-heap provider; recovery
    // semantics are provider-independent (the checkpoint's offset/commit
    // logs drive replay either way — StreamingSpec proves it for both)
    st.stateStoreProvider.foreach { p =>
      val cls = p.trim match {
        case "hdfs" => "org.apache.spark.sql.execution.streaming.state." +
          "HDFSBackedStateStoreProvider"
        case "rocksdb" => "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"
        case fqcn if fqcn.contains('.') => fqcn
        case other => throw new ConfigException(
          s"streaming.stateStoreProvider must be hdfs|rocksdb or a " +
            s"fully-qualified StateStoreProvider class, got '$other'")
      }
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
    }

    // fail-fast validation BEFORE the query starts, mirroring the batch
    // executor: without it a misconfigured sink/transform only surfaced
    // inside the first foreachBatch epoch as a StreamingQueryException,
    // after the checkpoint dir was already created
    val sErrs = sources.get(config.source.sourceType).validate(config.source)
    if (sErrs.nonEmpty) throw new ConfigException(sErrs.mkString("; "))
    if (!Set("file", "memory").contains(config.sink.sinkType)) {
      val errs = sinks.get(config.sink.sinkType).validate(config.sink)
      if (errs.nonEmpty) throw new ConfigException(errs.mkString("; "))
    }
    graft.runtime.PipelineExecutor.checkSteps(config.transformations, transforms, spark)

    val in = readStream(config.source, st)
    val transformed =
      graft.runtime.PipelineExecutor.applyAll(in, config.transformations, transforms, ctx)

    // default checkpoint is keyed by pipelineId ONLY — a per-run random
    // suffix would give every restart a fresh offset log while the file
    // sink's _spark_metadata remembered the old batches, silently skipping
    // the first epochs of the new run (set checkpointLocation explicitly
    // for side-by-side instances of one pipelineId)
    val checkpoint = st.checkpointLocation.getOrElse(
      s"/tmp/graft-checkpoints/${config.pipelineId}")
    val trigger = st.trigger match {
      case Some(t) if t.startsWith("processingTime=") =>
        Trigger.ProcessingTime(t.stripPrefix("processingTime="))
      case Some("availableNow") | None => Trigger.AvailableNow()
      case Some(other) => throw new ConfigException(
        s"streaming.trigger must be availableNow or processingTime=<interval>, " +
          s"got '$other'")
    }

    val writer = config.sink.sinkType match {
      case "file" =>
        val path = config.sink.options.getOrElse("path",
          throw new ConfigException("file sink: 'path' option required"))
        var w = transformed.writeStream
          .format(config.sink.options.getOrElse("format", "parquet"))
          // user sink options (compression, maxRecordsPerFile, ...) pass
          // through like the batch FileSink's — they were silently dropped
          .options(config.sink.options -- Seq("path", "format"))
          .outputMode(st.outputMode)
          .option("path", path)
        if (config.sink.partitionBy.nonEmpty) w = w.partitionBy(config.sink.partitionBy: _*)
        w
      case "memory" =>
        transformed.writeStream.format("memory")
          .queryName(config.sink.options.getOrElse("queryName", config.pipelineId))
          .outputMode(st.outputMode)
      case _ =>
        // batch-sink reuse per epoch: upsert sinks make this idempotent
        val sink = sinks.get(config.sink.sinkType)
        transformed.writeStream.outputMode(st.outputMode)
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            sink.write(batch, config.sink, ctx.copy(runId = s"$runId-$epochId")); ()
          }
    }
    writer
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Config a streaming run would otherwise silently ignore: the
    * `quality` and `performance` blocks (batch-executor features) and the
    * batch file sink's layout options, which Spark's streaming writer
    * would receive as unknown options. */
  private def refuseUnsupported(config: PipelineConfig): Unit = {
    if (config.quality.isDefined) throw new ConfigException(
      "quality: not supported in micro-batch mode — the quality gate runs " +
        "in the batch executor only; drop the block or run the pipeline as batch")
    if (config.performance.isDefined) throw new ConfigException(
      "performance: not supported in micro-batch mode — set shuffle " +
        "partitions under streaming.shufflePartitions instead")
    if (config.sink.sinkType == "file")
      graft.sinks.FileSink.layoutOptions.find(config.sink.options.contains).foreach { o =>
        throw new ConfigException(
          s"file sink: '$o' is not supported by the streaming file sink — " +
            "it shapes batch writes only")
      }
  }

  private def readStream(src: SourceConfig, st: StreamingConfig)
                        (implicit spark: SparkSession): DataFrame = {
    val base = src.sourceType match {
      case "file" | "s3" =>
        val schema = graft.sources.FileSource.explicitSchema(src).getOrElse(
          throw new ConfigException("streaming file source requires an explicit schema"))
        spark.readStream.schema(schema)
          .format(src.options.getOrElse("format", "parquet"))
          .options(src.options -- Seq("path", "format", "schema"))
          .load(src.options.getOrElse("path",
            throw new ConfigException("file source: 'path' option required")))
      case "kafka" =>
        // the SAME column contract builder as the batch read and the
        // file double — three call sites, one projection, zero drift
        graft.sources.KafkaFileSource.realKafkaShape(
          spark.readStream.format("kafka").options(src.options).load())
      // the connector-free double, streaming side: new JSON-lines files in
      // the directory play arriving messages, with the same kafka column
      // contract as the real source (monotonic offsets are per-batch here —
      // a test double, not an ordering guarantee)
      case "kafka-file" =>
        val path = src.options.getOrElse("path",
          throw new ConfigException("kafka-file source: 'path' option required"))
        // monotonically_increasing_id is not allowed on streams; the
        // double has no real offsets to offer anyway
        graft.sources.KafkaFileSource.kafkaShape(
          spark.readStream.format("text").load(path),
          src.options.getOrElse("topic", "mock-topic"),
          org.apache.spark.sql.functions.lit(-1L))
      case other =>
        throw new ConfigException(s"source '$other' does not support streaming")
    }
    val watermarked = (st.watermarkColumn, st.watermarkDelay) match {
      case (Some(c), Some(d)) => base.withWatermark(c, d)
      case (None, None) => base
      case (c, d) => throw new ConfigException(
        "streaming.watermarkColumn and watermarkDelay must be set together — " +
          s"got watermarkColumn=${c.getOrElse("<missing>")}, " +
          s"watermarkDelay=${d.getOrElse("<missing>")} (a half-configured " +
          "watermark would silently run dedup/sessionization unbounded)")
    }
    st.dedupColumns.map(graft.config.ExprUtils.parseColumns) match {
      case Some(keys) if keys.nonEmpty =>
        // with a watermark the seen-keys state self-expires; without one
        // it grows with distinct keys (bounded backfills only)
        if (st.watermarkColumn.isDefined && st.watermarkDelay.isDefined)
          watermarked.dropDuplicatesWithinWatermark(keys)
        else watermarked.dropDuplicates(keys)
      case _ => watermarked
    }
  }
}
