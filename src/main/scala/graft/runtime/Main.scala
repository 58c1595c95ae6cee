package graft.runtime

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.api.ConfigException
import graft.config.{ExecutionMode, YamlConfigParser}

/**
 * CLI entry point, argument-compatible with the reference's Main
 * (Main.scala:187-244): --pipeline <yaml> [--app-name n] [--master m]
 * [--conf k=v ...]. Batch configs run through PipelineExecutor; configs
 * with executionMode: micro-batch run through StreamingExecutor and block
 * until the streaming query drains (availableNow) or is terminated.
 * Exit code 0 on SUCCESS, 1 otherwise; session always stopped.
 */
object Main {
  final case class AppConfig(
      pipelinePath: String,
      appName: String = "graft-pipeline",
      master: Option[String] = None,
      conf: Map[String, String] = Map.empty,
      dryRun: Boolean = false)

  def parseArguments(args: Array[String]): AppConfig = {
    def loop(rest: List[String], acc: AppConfig): AppConfig = rest match {
      case Nil => acc
      case "--pipeline" :: v :: t => loop(t, acc.copy(pipelinePath = v))
      case "--app-name" :: v :: t => loop(t, acc.copy(appName = v))
      case "--master" :: v :: t   => loop(t, acc.copy(master = Some(v)))
      case "--dry-run" :: t       => loop(t, acc.copy(dryRun = true))
      case "--conf" :: v :: t =>
        v.split("=", 2) match {
          case Array(k, value) => loop(t, acc.copy(conf = acc.conf + (k -> value)))
          case _ => throw new IllegalArgumentException(s"--conf expects k=v, got: $v")
        }
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val cfg = loop(args.toList, AppConfig(pipelinePath = ""))
    if (cfg.pipelinePath.isEmpty)
      throw new IllegalArgumentException("--pipeline <file.yaml> is required")
    cfg
  }

  /** --dry-run: resolve the whole pipeline — config parse, source/sink
    * validation, every transform composed, analysis run — and print the
    * output schema plus the formatted physical plan WITHOUT writing
    * anything. The review step before pointing a new YAML at 100 TB:
    * pushed filters, read schemas, join strategies and exchange counts are
    * all visible here. */
  def dryRun(config: graft.config.PipelineConfig)(implicit spark: SparkSession): String = {
    // apply the pipeline's performance conf exactly as execute() does —
    // without it the printed exchanges/lint verdict could describe a
    // DIFFERENT plan than the one execute() will run (e.g. a reviewed
    // 200-partition plan for a config that sets shufflePartitions: 2000)
    val prevShuffle = spark.conf.getOption("spark.sql.shuffle.partitions")
    val prevCkptMode = spark.conf.getOption(graft.api.Checkpointing.ModeKey)
    val prevCkptDir = spark.conf.getOption(graft.api.Checkpointing.DirKey)
    def restore(key: String, prev: Option[String]): Unit = prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    try {
    config.performance.flatMap(_.shufflePartitions).foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    config.performance.flatMap(_.checkpoint).foreach(m =>
      spark.conf.set(graft.api.Checkpointing.ModeKey, m))
    config.performance.flatMap(_.checkpointDir).foreach(d =>
      spark.conf.set(graft.api.Checkpointing.DirKey, d))
    val df = new PipelineExecutor().compose(config)
    val sinkErrs = Registries.sinks().get(config.sink.sinkType).validate(config.sink)
    if (sinkErrs.nonEmpty) throw new ConfigException(sinkErrs.mkString("; "))
    val report = new StringBuilder()
    report ++= s"pipeline: ${config.pipelineId} (DRY RUN — nothing written)\n"
    report ++= "output schema:\n" + df.schema.treeString
    report ++= "physical plan:\n"
    report ++= df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val findings = graft.plans.PlanLint.audit(df)
    report ++= "plan lint:\n"
    if (findings.isEmpty) report ++= "  clean\n"
    else findings.foreach(f => report ++= s"  $f\n")
    report.result()
    } finally {
      restore("spark.sql.shuffle.partitions", prevShuffle)
      restore(graft.api.Checkpointing.ModeKey, prevCkptMode)
      restore(graft.api.Checkpointing.DirKey, prevCkptDir)
    }
  }

  /** The options createSparkSession sets on the builder. On a shared key
    * the later group wins: graft's defaults, then [[SessionDefaults]] (the
    * fork-free `file:` classes and the codegen cache settings) for each key
    * the deployment (`deployment`: spark-defaults.conf, spark-submit's
    * --conf; `hadoop`: core-site.xml) leaves unset, then the user's --conf. */
  def sessionConf(app: AppConfig, deployment: SparkConf = new SparkConf(),
      hadoop: Configuration = new Configuration()): Map[String, String] =
    Map(
      // reference defaults (application.conf:8-22): AQE + skew handling on
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
      "spark.task.maxFailures" -> "3") ++
      SessionDefaults.sparkConf(deployment, hadoop) ++ app.conf

  def createSparkSession(app: AppConfig): SparkSession = {
    var b = SparkSession.builder().appName(app.appName)
    app.master.foreach(m => b = b.master(m))
    val spark = b.config(sessionConf(app)).getOrCreate()
    graft.fs.LocalFileSystems.cachedMismatch(spark.sparkContext.hadoopConfiguration)
      .foreach(new StructuredLogger("Main").warn(_))
    spark
  }

  def main(args: Array[String]): Unit = {
    val log = new StructuredLogger("Main")
    val app = parseArguments(args)
    val config = new YamlConfigParser().parseFile(app.pipelinePath)
    implicit val spark: SparkSession = createSparkSession(app)
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new MetricsCollector()
    // exit code decided INSIDE the try, exit called AFTER the finally:
    // sys.exit inside the try would begin JVM shutdown without unwinding
    // the stack, so the finally's spark.stop() would never run
    var exitCode = 0
    try {
      config.executionMode match {
        case _ if app.dryRun =>
          // batch pipelines resolve fully; streaming configs validate the
          // same way (compose uses batch sources — the plan differs only
          // in the scan node)
          println(dryRun(config))
          log.info("dry-run ok", Map("pipelineId" -> config.pipelineId))
        case ExecutionMode.Batch =>
          val m = new PipelineExecutor().execute(config)
          metrics.record(m)
          log.info("pipeline finished", Map(
            "pipelineId" -> m.pipelineId, "runId" -> m.runId, "status" -> m.status,
            "recordsLoaded" -> m.recordsLoaded.toString,
            "durationMs" -> m.durationMs.toString) ++
            m.error.map("error" -> _))
          if (m.status != "SUCCESS") exitCode = 1
        case ExecutionMode.MicroBatch =>
          val q = new graft.streaming.StreamingExecutor().start(config)
          log.info("streaming query started", Map(
            "pipelineId" -> config.pipelineId, "queryId" -> q.id.toString))
          q.awaitTermination()
      }
    } catch {
      case e: Throwable =>
        log.error("pipeline failed", Map("error" -> String.valueOf(e.getMessage)))
        exitCode = 1
    } finally spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }
}
