package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.scheduler.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{LongType, MetadataBuilder}

import graft.SparkTestBase
import graft.config.SourceConfig

/** A `file` source reading parquet without a declared schema infers it
  * from one footer on the driver: no Spark job, and the schema Spark's own
  * inference job returns, down to `schema.json` (nullability and metadata),
  * or Spark's own error when that job would fail. */
class ParquetInferenceSpec extends SparkTestBase {
  import spark.implicits._

  private def jobs[A](f: => A): (A, Int) = {
    val j0 = JobCount.started(spark.sparkContext)
    val a = f
    (a, JobCount.started(spark.sparkContext) - j0)
  }

  private def fileRead(path: String, opts: (String, String)*): DataFrame =
    FileSource.read(SourceConfig("file", Map("path" -> path, "format" -> "parquet") ++ opts))

  /** The schema as json, or the error condition (else the exception class)
    * of the failed read. */
  private def outcome(read: => DataFrame): Either[String, String] =
    try Right(read.schema.json)
    catch {
      case e: Exception with SparkThrowable =>
        Left(Option(e.getCondition).getOrElse(e.getClass.getName))
    }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** No job, and the outcome `spark.read.parquet` has under the same options. */
  private def parity(path: String, opts: (String, String)*): Either[String, String] = {
    val (ours, n) = jobs(outcome(fileRead(path, opts: _*)))
    withClue(s"$path $opts: ") {
      n shouldBe 0
      ours shouldBe outcome(spark.read.options(opts.toMap).parquet(path))
    }
    ours
  }

  private def typed = Seq((1L, "a", 1.5), (2L, null, 2.5)).toDF("id", "s", "x")

  test("a multi-file directory") {
    val dir = tmpDir("pq-multi")
    typed.repartition(2).write.mode("overwrite").parquet(dir)
    parity(dir) shouldBe Right(spark.read.parquet(dir).schema.json)
    // the same plan as a `parquet` read: equal relations with equal hashes,
    // so caching and exchange reuse apply across the two
    def relation(df: DataFrame) =
      df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }.get
    val (ours, stock) = (relation(FileSource.parquet(spark, dir)), relation(spark.read.parquet(dir)))
    ours shouldBe stock
    ours.hashCode shouldBe stock.hashCode
    FileSource.parquet(spark, dir).queryExecution.analyzed
      .sameResult(spark.read.parquet(dir).queryExecution.analyzed) shouldBe true
  }

  test("a Hive-partitioned directory") {
    val dir = tmpDir("pq-hive")
    typed.withColumn("day", $"id" % 2).write.partitionBy("day").mode("overwrite").parquet(dir)
    parity(dir).toOption.get should include("\"day\"")
  }

  test("nested, array, map, decimal and timestamp columns, with column metadata") {
    val dir = tmpDir("pq-nested")
    spark.sql("""SELECT id,
        named_struct('a', id, 'b', named_struct('c', CAST(id AS STRING))) AS st,
        array(id, id + 1) AS arr, map('k', array(CAST(id AS DOUBLE))) AS m,
        CAST(id AS DECIMAL(12, 3)) AS dec, CAST(id AS DECIMAL(30, 2)) AS wide,
        timestamp_seconds(id) AS ts, CAST(timestamp_seconds(id) AS TIMESTAMP_NTZ) AS ntz,
        date_from_unix_date(CAST(id AS INT)) AS d, CAST('x' AS BINARY) AS bin
      FROM range(3)""")
      .withColumn("id", $"id".as("id", new MetadataBuilder().putString("doc", "key").build()))
      .write.mode("overwrite").parquet(dir)
    parity(dir).toOption.get should include("\"doc\":\"key\"")
  }

  test("_common_metadata, then _metadata, are read before any data file") {
    // each summary file carries a schema the data files lack, so only the
    // file Spark's inference picks yields the expected column
    def footer(cols: String, to: String): Unit = {
      val d = tmpDir("pq-summary-src")
      spark.sql(s"SELECT $cols FROM range(1)").coalesce(1).write.mode("overwrite").parquet(d)
      val part = Files.list(Paths.get(d)).filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      Files.copy(part, Paths.get(to))
    }
    val both = tmpDir("pq-summary-both")
    typed.write.mode("overwrite").parquet(both)
    footer("id, 'm' AS from_metadata", s"$both/_metadata")
    footer("id, 'c' AS from_common", s"$both/_common_metadata")
    parity(both).toOption.get should (include("from_common") and not include "from_metadata")
    Files.delete(Paths.get(s"$both/_common_metadata"))
    parity(both).toOption.get should include("from_metadata")
  }

  test("the events testdata table under nanosAsLong") {
    val events = "/root/testdata/sf0.001/events.parquet"
    assume(Files.exists(Paths.get(events)), s"$events not mounted")
    for (flag <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> flag)(parity(events).isRight shouldBe true)
  }

  /** One row of raw parquet types Spark cannot write itself. */
  private def rawParquet(prefix: String, fields: String)(fill: Group => Group): String = {
    val dir = tmpDir(prefix)
    val schema = MessageTypeParser.parseMessageType(s"message m { required int64 id; $fields }")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/part-0.parquet"), new Configuration())).withType(schema).build()
    try writer.write(fill(new SimpleGroupFactory(schema).newGroup().append("id", 1L)))
    finally writer.close()
    dir
  }

  test("the session's type-conversion confs reach the footer read") {
    val nanos = rawParquet("pq-nanos", "optional int64 ts (TIMESTAMP(NANOS,true));")(
      _.append("ts", 1000L))
    val raw = rawParquet("pq-raw-types",
      "optional int64 local (TIMESTAMP(MICROS,false)); optional int96 t96; optional binary raw;")(
      _.append("local", 5L).append("t96", Binary.fromConstantByteArray(new Array[Byte](12)))
        .append("raw", Binary.fromString("x")))
    def under(kv: (String, String), dir: String) = withConf(kv)(parity(dir))
    under("spark.sql.legacy.parquet.nanosAsLong" -> "true", nanos).toOption.get should
      include("\"ts\",\"type\":\"long\"")
    // TIMESTAMP(NANOS) is refused without the flag, as Spark's job refuses it
    under("spark.sql.legacy.parquet.nanosAsLong" -> "false", nanos) shouldBe
      Left("PARQUET_TYPE_ILLEGAL")
    val plain = parity(raw).toOption.get
    plain should (include("\"raw\",\"type\":\"binary\"") and
      include("\"t96\",\"type\":\"timestamp\"") and
      include("\"local\",\"type\":\"timestamp_ntz\""))
    for ((kv, expected) <- Seq(
        ("spark.sql.parquet.binaryAsString" -> "true") -> "\"raw\",\"type\":\"string\"",
        ("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") ->
          "\"local\",\"type\":\"timestamp\""))
      under(kv, raw).toOption.get should include(expected)
    under("spark.sql.parquet.int96AsTimestamp" -> "false", raw) should not be Right(plain)
  }

  test("a corrupt first file under ignoreCorruptFiles") {
    val dir = tmpDir("pq-corrupt")
    typed.repartition(2).write.mode("overwrite").parquet(dir)
    Files.write(Paths.get(s"$dir/a-corrupt.parquet"), "not parquet".getBytes)
    // Spark touches the first data file only: skipping it leaves no schema
    parity(dir, "ignoreCorruptFiles" -> "true") shouldBe Left("UNABLE_TO_INFER_SCHEMA")
    withConf("spark.sql.files.ignoreCorruptFiles" -> "true")(parity(dir)) shouldBe
      Left("UNABLE_TO_INFER_SCHEMA")
    // without it the read fails naming the file: Spark's job reports the
    // footer error inside its stage failure, the driver read reports it as is
    val footerError = "[FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER] Encountered error " +
      s"while reading file file:$dir/a-corrupt.parquet. Could not read footer."
    val (e, n) = jobs(the[SparkException] thrownBy fileRead(dir))
    n shouldBe 0
    e.getMessage should startWith(footerError)
    (the[SparkException] thrownBy spark.read.parquet(dir)).getMessage should include(footerError)
    // a corrupt file after the first is never opened
    Files.move(Paths.get(s"$dir/a-corrupt.parquet"), Paths.get(s"$dir/z-corrupt.parquet"))
    parity(dir).isRight shouldBe true
  }

  test("mergeSchema still merges differing files through Spark's job") {
    val dir = tmpDir("pq-merge")
    Seq(1L).toDF("id").write.mode("overwrite").parquet(s"$dir/k=1")
    Seq((2L, "b")).toDF("id", "extra").write.mode("overwrite").parquet(s"$dir/k=2")
    val (merged, n) = jobs(fileRead(dir, "mergeSchema" -> "true").schema)
    merged.fieldNames shouldBe Array("id", "extra", "k")
    n should be >= 1
    merged shouldBe spark.read.option("mergeSchema", "true").parquet(dir).schema
    val (confMerged, m) = jobs(withConf("spark.sql.parquet.mergeSchema" -> "true")(
      fileRead(dir).schema))
    confMerged shouldBe merged
    m should be >= 1
  }

  test("a missing path and an empty directory fail with Spark's error") {
    val empty = tmpDir("pq-empty")
    parity(s"$empty/missing") shouldBe Left("PATH_NOT_FOUND")
    parity(empty) shouldBe Left("UNABLE_TO_INFER_SCHEMA")
  }

  test("a session that scans parquet with the V2 source keeps it") {
    val dir = tmpDir("pq-v2")
    typed.write.mode("overwrite").parquet(dir)
    def relation(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
      case _: LogicalRelation => "v1"
      case _: DataSourceV2Relation => "v2"
    }
    relation(fileRead(dir)) shouldBe Some("v1")
    withConf("spark.sql.sources.useV1SourceList" -> "avro,csv,json,kafka,orc,text") {
      relation(fileRead(dir)) shouldBe Some("v2")
      relation(FileSource.parquet(spark, dir)) shouldBe Some("v2")
    }
    fileRead(dir, "schema" -> "id BIGINT").schema.fieldNames shouldBe Array("id")
    fileRead(dir).schema("id").dataType shouldBe LongType
  }
}
