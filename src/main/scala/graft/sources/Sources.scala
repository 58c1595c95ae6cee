package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.api.{Source, ConfigException}
import graft.config.{Options, SourceConfig}

/**
 * file — parquet | json | csv | orc | text from a path (local, HDFS, or
 * s3a:// — the URI scheme is all that differs at cluster scale).
 * Reference: extractor/S3Extractor.scala:30-78. CSV header/delimiter/
 * inferSchema, JSON multiLine, Parquet mergeSchema pass straight through as
 * Spark reader options. Unlike the reference, `schemaPath`/`schema` is
 * actually enforced: an explicit schema skips inference and acts as the
 * strict contract the reference only promised (S3Extractor.scala:163).
 *
 * Without a schema, inference costs what the format needs: csv and json
 * scan their data in a Spark job; parquet reads one footer on the driver
 * ([[org.apache.spark.sql.execution.datasources.parquet.GraftParquetFileFormat]],
 * the file Spark's own inference job would read), and only `mergeSchema`
 * reads every footer, in a Spark job. [[parquet]] is the same read for
 * callers that hold a path, not a config: the program's one parquet reader.
 */
object FileSource extends Source {
  val sourceType = "file"
  private val formats = Set("parquet", "json", "csv", "orc", "text", "avro")

  def read(config: SourceConfig)(implicit spark: SparkSession): DataFrame = {
    val path = config.options.getOrElse("path",
      throw new ConfigException("file source: 'path' option required"))
    val format = config.options.getOrElse("format", "parquet").toLowerCase
    if (!formats.contains(format))
      throw new ConfigException(s"file source: unknown format '$format'")
    val passthrough = config.options -- Seq("path", "format", "schema")
    val schema = explicitSchema(config)
    val reader = spark.read.format(provider(format, schema.isEmpty)).options(passthrough)
    schema.foreach(reader.schema)
    try reader.load(path)
    catch {
      // avro is an optional external module; surface a capability error
      // instead of Spark's raw DataSource-lookup failure. Spark 4 throws
      // TWO shapes here: the avro/kafka special case is an
      // AnalysisException with legacy conditions _LEGACY_ERROR_TEMP_1139/
      // 1140, every other unknown provider a SparkClassNotFoundException
      // with DATA_SOURCE_NOT_FOUND — match the error CLASS for all three
      // (a message-substring match silently dies on wording changes)
      case e: org.apache.spark.SparkThrowable
          if Set("DATA_SOURCE_NOT_FOUND", "_LEGACY_ERROR_TEMP_1139",
            "_LEGACY_ERROR_TEMP_1140").contains(e.getCondition) =>
        throw new ConfigException(
          s"file source: format '$format' requires its data source module on " +
            s"the classpath (for avro: org.apache.spark:spark-avro), which this " +
            s"deployment does not ship; add the module or use parquet/orc/json/csv")
    }
  }

  /** Parquet at `path` with its schema inferred, read as a `file` source
    * with format parquet and no options reads it. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.format(provider("parquet", infers = true)(spark)).load(path)

  /** The data source for `format`: an inferring parquet read goes through
    * the driver-side footer read, unless the session scans parquet with the
    * V2 source (`spark.sql.sources.useV1SourceList` without parquet), which
    * that V1 format would silently replace. */
  private def provider(format: String, infers: Boolean)(implicit spark: SparkSession): String =
    if (format == "parquet" && infers &&
        spark.conf.get("spark.sql.sources.useV1SourceList").toLowerCase
          .split(",").map(_.trim).contains("parquet"))
      classOf[GraftParquetFileFormat].getName
    else format

  override def validate(config: SourceConfig): List[String] = {
    val errs = List.newBuilder[String]
    if (!config.options.contains("path")) errs += "file source: missing 'path'"
    config.options.get("format").filterNot(f => formats.contains(f.toLowerCase))
      .foreach(f => errs += s"file source: unknown format '$f'")
    errs.result()
  }

  /** DDL-string schema from inline option or schemaPath file. Both are
    * user config, so every failure mode (missing file, DDL parse error,
    * a bare type instead of a field list) reports as ConfigException
    * naming the option — never a raw internal stack trace. */
  def explicitSchema(config: SourceConfig): Option[StructType] = {
    val ddl = config.options.get("schema").orElse(
      config.schemaPath.map { p =>
        try new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
        catch { case e: java.io.IOException => throw new ConfigException(
          s"schemaPath: cannot read '$p' (${e.getMessage})") }
      })
    ddl.map { d =>
      val parsed =
        try DataType.fromDDL(d)
        catch { case e: Exception => throw new ConfigException(
          s"schema: not a valid DDL string (${e.getMessage})") }
      parsed match {
        case st: StructType => st
        case other => throw new ConfigException(
          s"schema: expected a field list like 'id BIGINT, name STRING', " +
            s"got the bare type '${other.simpleString}'")
      }
    }
  }
}

/**
 * table — reads a catalog table by name (`spark.table`). The point at
 * scale: catalog metadata carries what a bare path cannot — bucket layout
 * (joins/aggregations on the bucket key skip their exchange entirely),
 * partition columns for pruning, and statistics for the optimizer. This is
 * how the output of [[graft.sinks.FileSink]]'s bucketed mode is read back;
 * reading its path directly would silently forget the bucketing.
 */
object TableSource extends Source {
  val sourceType = "table"
  def read(config: SourceConfig)(implicit spark: SparkSession): DataFrame =
    spark.table(config.options.getOrElse("table",
      throw new ConfigException("table source: 'table' option required")))
  override def validate(config: SourceConfig): List[String] =
    if (config.options.contains("table")) Nil else List("table source: missing 'table'")
}

/**
 * kafka (batch read) — reads a topic slice; raw binary key/value cast to
 * string; exposes key,value,topic,partition,offset,timestamp.
 * Reference: extractor/KafkaExtractor.scala:27-72. The real path is
 * spark.read.format("kafka") (connector resolved at runtime); the image
 * ships no Kafka connector, so tests use [[KafkaFileSource]] — the same
 * file-backed stand-in strategy the reference's own tests use (spec FR-029:
 * no real services in tests).
 */
object KafkaSource extends Source {
  val sourceType = "kafka"
  private val topicSpecs = Seq("subscribe", "subscribePattern", "assign")
  def read(config: SourceConfig)(implicit spark: SparkSession): DataFrame = {
    val errs = validate(config)
    if (errs.nonEmpty) throw new ConfigException(errs.mkString("; "))
    KafkaFileSource.realKafkaShape(
      spark.read.format("kafka")
        .options(config.options)
        .option("startingOffsets", config.options.getOrElse("startingOffsets", "earliest"))
        .load())
  }
  // validate() override so the executor's fail-fast pass catches a
  // misconfigured kafka source BEFORE the run, like every other source;
  // any one of Spark's three topic specifications is accepted
  override def validate(config: SourceConfig): List[String] = {
    val errs = List.newBuilder[String]
    if (!config.options.contains("kafka.bootstrap.servers"))
      errs += "kafka source: missing 'kafka.bootstrap.servers'"
    if (topicSpecs.count(config.options.contains) != 1)
      errs += ("kafka source: exactly one of " +
        topicSpecs.mkString("'", "'/'", "'") + " is required")
    errs.result()
  }
}

/**
 * kafka-file — test double: a JSON-lines file stands in for a topic
 * (one message per line = the `value`), mirroring the reference's mock
 * strategy (QuickstartScenario3Spec.scala:103-121). Produces the exact
 * kafka column contract so downstream transforms are interchangeable.
 */
object KafkaFileSource extends Source {
  val sourceType = "kafka-file"

  /** The REAL connector's column projection over a raw kafka frame — ONE
    * definition shared by the batch read ([[KafkaSource.read]]) and the
    * streaming read ([[graft.streaming.StreamingExecutor]]), so the two
    * cannot drift (the same guarantee [[kafkaShape]] gives the doubles). */
  private[graft] def realKafkaShape(raw: DataFrame): DataFrame =
    raw.select(
      col("key").cast("string").as("key"),
      col("value").cast("string").as("value"),
      col("topic"), col("partition"), col("offset"), col("timestamp"))

  /** The exact kafka column contract over a raw text `value` frame — ONE
    * definition shared by the batch double here and the streaming double
    * in [[graft.streaming.StreamingExecutor]], so the two cannot drift.
    * Only the offset expression differs (streams cannot use
    * monotonically_increasing_id). */
  private[graft] def kafkaShape(raw: DataFrame, topic: String,
                                offset: org.apache.spark.sql.Column): DataFrame =
    raw.select(
      lit(null).cast("string").as("key"),
      col("value").cast("string").as("value"),
      lit(topic).as("topic"),
      spark_partition_id().as("partition"),
      offset.as("offset"),
      current_timestamp().as("timestamp"))

  def read(config: SourceConfig)(implicit spark: SparkSession): DataFrame = {
    val path = config.options.getOrElse("path",
      throw new ConfigException("kafka-file source: 'path' option required"))
    kafkaShape(spark.read.text(path),
      config.options.getOrElse("topic", "mock-topic"),
      monotonically_increasing_id())
  }
}

/**
 * jdbc (postgres | mysql) — partitioned parallel read of a table or
 * `(subquery) alias`. Reference: extractor/PostgresExtractor.scala:30-81,
 * MySQLExtractor.scala:30-80. partitionColumn/lowerBound/upperBound/
 * numPartitions split the read into concurrent range queries — the only
 * way a JDBC scan parallelizes on a cluster; fetchsize tunes cursor
 * batching. No JDBC drivers ship in this image, so integration tests use a
 * registered file-backed double ([[graft.runtime.Registries]]), exactly as
 * the reference uses H2 stand-ins.
 */
final class JdbcSource(val sourceType: String, driverClass: String) extends Source {
  def read(config: SourceConfig)(implicit spark: SparkSession): DataFrame = {
    val errs = validate(config)
    if (errs.nonEmpty) throw new ConfigException(errs.mkString("; "))
    val opts = Map(
      "url" -> config.options("url"),
      "dbtable" -> config.options.getOrElse("dbtable", config.options.getOrElse("table", "")),
      "driver" -> config.options.getOrElse("driver", driverClass)) ++
      (config.options -- Seq("url", "dbtable", "table"))
    spark.read.format("jdbc").options(opts).load()
  }
  override def validate(config: SourceConfig): List[String] = {
    val errs = List.newBuilder[String]
    config.options.get("url") match {
      case None => errs += s"$sourceType source: missing 'url'"
      case Some(u) if !u.startsWith("jdbc:") => errs += s"$sourceType source: url must start with jdbc:"
      case _ =>
    }
    if (!config.options.contains("dbtable") && !config.options.contains("table"))
      errs += s"$sourceType source: missing 'dbtable'"
    val partOpts = Seq("partitionColumn", "lowerBound", "upperBound", "numPartitions")
    val present = partOpts.count(config.options.contains)
    if (config.options.contains("partitionColumn") && present != 4)
      errs += s"$sourceType source: partitionColumn requires all of ${partOpts.mkString(", ")}"
    // the integer options Spark would otherwise reject mid-read, unguided
    Seq("numPartitions", "fetchsize").foreach(k =>
      config.options.get(k).foreach(Options.int(s"$sourceType source", k, _)))
    errs.result()
  }
}
