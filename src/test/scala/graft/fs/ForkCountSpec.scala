package graft.fs

import java.net.URI
import java.nio.file.Files
import java.security.PrivilegedExceptionAction

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem}
import org.apache.hadoop.security.UserGroupInformation

import graft.SparkTestBase
import graft.config._
import graft.runtime.PipelineExecutor
import graft.streaming.StreamingExecutor

/** The test session runs on the production `file:` classes, and a sink
  * commit, a quarantine append and a checkpointed micro-batch drain start
  * no per-file `chmod`/`readlink`/`ls`/`stat` child process. */
class ForkCountSpec extends SparkTestBase {
  import spark.implicits._

  /** Command lines of the child processes the JVM started while `body` ran
    * (JFR's `jdk.ProcessStart`, recorded in-process). */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val dump = Files.createTempFile("graft-forks", ".jfr")
      try {
        rec.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally Files.deleteIfExists(dump)
    } finally rec.close()
  }

  private def program(command: String): String =
    command.trim.split("\\s+").head.split('/').last

  test("the session's FileSystem and FileContext for file: are the graft classes") {
    val conf = spark.sessionState.newHadoopConf()
    FileSystem.get(new URI("file:///"), conf) shouldBe a[NioLocalFileSystem]
    FileContext.getFileContext(conf).getDefaultFileSystem shouldBe a[NioLocalFs]
  }

  test("a stock file: FileSystem cached before the session is reported") {
    LocalFileSystems.cachedMismatch(spark.sparkContext.hadoopConfiguration) shouldBe None
    // the cache is keyed by user: another user's lookups start from an empty one
    val ugi = UserGroupInformation.createRemoteUser("graft-fs-cache-probe")
    try ugi.doAs(new PrivilegedExceptionAction[Unit] {
      override def run(): Unit = {
        val stock = new Configuration()
        stock.set("fs.file.impl", classOf[LocalFileSystem].getName)
        FileSystem.get(new URI("file:///"), stock).getClass shouldBe classOf[LocalFileSystem]
        val ours = new Configuration()
        ours.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
        LocalFileSystems.cachedMismatch(ours).getOrElse("") should include(
          "fs.file.impl is graft.fs.NioLocalFileSystem but the cached file: FileSystem is " +
            "org.apache.hadoop.fs.LocalFileSystem")
      }
    }) finally FileSystem.closeAllForUGI(ugi)
  }

  test("file sink, quarantine gate and checkpointed streaming drain start no " +
    "chmod/readlink/ls/stat process") {
    val in = tmpDir("forks-in"); val events = tmpDir("forks-events")
    Seq((Some("a"), 1), (None, 2), (Some("c"), 3), (Some("c"), 3), (None, 4))
      .toDF("name", "v").write.mode("overwrite").parquet(in)
    Seq(("2024-01-01 10:00:10", 1L, 1.0), ("2024-01-01 10:20:00", 1L, 2.0),
      ("2024-01-01 11:05:00", 2L, 4.0), ("2024-01-01 14:00:00", 2L, 8.0))
      .toDF("t", "user_id", "value")
      .selectExpr("CAST(t AS TIMESTAMP) AS ts", "user_id", "value")
      .write.mode("overwrite").parquet(events)
    val out = tmpDir("forks-out"); val quar = tmpDir("forks-quar")
    val streamOut = tmpDir("forks-stream-out"); val ckpt = tmpDir("forks-ckpt")
    val batch = PipelineConfig(
      pipelineId = "forks-batch",
      source = SourceConfig("file", Map("path" -> in)),
      sink = SinkConfig("file", Map("path" -> out), WriteMode.Overwrite),
      quality = Some(QualityConfig(
        nullChecks = List(NullCheck("name", NullAction.Quarantine)),
        duplicateCheck = Some(DuplicateCheck(List("name", "v"), NullAction.Quarantine)),
        quarantinePath = Some(quar))))
    val stream = PipelineConfig(
      pipelineId = "forks-stream",
      executionMode = ExecutionMode.MicroBatch,
      source = SourceConfig("file", Map("path" -> events, "format" -> "parquet",
        "schema" -> "ts TIMESTAMP, user_id BIGINT, value DOUBLE")),
      transformations = List(TransformConfig("hourly", "windowing", Map(
        "timeColumn" -> "ts", "windowDuration" -> "1 hour", "groupBy" -> "user_id",
        "aggregations" -> "n:count(*),total:sum(value)"))),
      sink = SinkConfig("file", Map("path" -> streamOut)),
      streaming = Some(StreamingConfig(checkpointLocation = Some(ckpt),
        watermarkColumn = Some("ts"), watermarkDelay = Some("1 hour"),
        trigger = Some("availableNow"))))

    val cmds = processesStartedBy {
      val m = new PipelineExecutor().execute(batch)
      withClue(m.error.getOrElse("")) { m.status shouldBe "SUCCESS" }
      new StreamingExecutor().start(stream).awaitTermination(120000) shouldBe true
      // one deliberate child process: the recorder must see it, or the
      // zero-fork assertion below proves nothing
      new ProcessBuilder("true").start().waitFor()
    }
    cmds.map(program) should contain("true")
    cmds.filter(c => Set("chmod", "readlink", "ls", "stat")(program(c))) shouldBe empty
    // the work the recording covered really happened
    spark.read.parquet(out).count() shouldBe 2
    spark.read.parquet(quar).count() shouldBe 3
    spark.read.parquet(streamOut).count() should be > 0L
    Files.exists(java.nio.file.Paths.get(ckpt, "commits", "0")) shouldBe true
  }
}
