package graft.tools

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.Bench
import graft.config.{PipelineConfig, YamlConfigParser}
import graft.runtime.PipelineExecutor

/** Dev profiler on [[Bench]]'s machinery:
  * `graft.tools.Profile <outDir> [target…]`, where each target is either
  *  - a registry query name: one entry; or
  *  - a pipeline YAML file: one entry per cumulative transform prefix
  *    (transforms 1..n through [[PipelineExecutor.compose]]), so each
  *    stage's marginal cost is visible even where Spark fuses the chain
  *    into one job.
  * No target means the whole registry.
  *
  * Every entry's formatted plan is written to `<outDir>/<entry>.txt`: a
  * prefix plan shows stages that a later `materialize` barrier hides from
  * the final plan. The entries are then timed with [[Bench.measure]]
  * (untimed warmup, cycle-ordered passes, per-entry minimum) and reported
  * as Bench reports them — `#bench` lines, the JSON lines and
  * `<outDir>/bench.json`, with task and compile counts — plus one
  * `#prefix <entry> <sec> marginal=<sec>` line per pipeline prefix. A
  * pipeline's prefixes are planned and timed under its `performance`
  * block ([[PipelineExecutor.withPerformanceConf]]), as `execute` runs
  * them. A streaming listener prints one `#progress` line per micro-batch
  * with its `durationMs` breakdown; only streaming queries fire it.
  *
  * Env: `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS` and
  * `SPARK_GRAFT_BENCH_RUNS` as for Bench; a YAML target reads the paths
  * it names. */
object Profile {
  /** One timed entry; `pipeline` is the config a prefix entry belongs to. */
  final case class Entry(name: String, query: Bench.Query, pipeline: Option[PipelineConfig])

  /** The entries `targets` expand to, in target order; no target means
    * the whole registry. A target that is neither a registry query nor an
    * existing file fails, naming it. */
  def entries(targets: Seq[String]): List[Entry] = {
    val registry = graft.SparkEntry.queries
    def isFile(t: String) = !registry.contains(t) && Files.isRegularFile(Paths.get(t))
    val names = targets.filterNot(isFile)
    if (names.nonEmpty) Bench.selectQueries(
      "the Profile targets (registry names or existing YAML files)", names.mkString(","))
    val es =
      if (targets.isEmpty) registry.keys.toList.sorted.map(n => Entry(n, registry(n), None))
      else targets.toList.flatMap(t =>
        if (isFile(t)) prefixes(t) else List(Entry(t, registry(t), None)))
    val dups = es.groupBy(_.name).collect { case (n, xs) if xs.size > 1 => n }
    require(dups.isEmpty, s"Profile entries repeat: ${dups.toSeq.sorted.mkString(",")}")
    es
  }

  /** One entry per cumulative transform prefix of the pipeline at `path`,
    * named `<pipelineId>.<nn>.<transform>` so names sort in chain order. */
  def prefixes(path: String): List[Entry] = {
    val cfg = new YamlConfigParser().parseFile(path)
    val ts = cfg.transformations
    require(ts.nonEmpty, s"$path: a pipeline target needs a transform to profile")
    ts.indices.toList.map { i =>
      val prefix = cfg.copy(transformations = ts.take(i + 1))
      val name = f"${cfg.pipelineId}.${i + 1}%02d.${ts(i).name}"
        .replaceAll("[^A-Za-z0-9._-]", "_")
      Entry(name, (s, _) => new PipelineExecutor().compose(prefix)(s), Some(cfg))
    }
  }

  /** Write each entry's formatted plan to `<outDir>/<name>.txt`. A build
    * that throws writes its error instead, so every entry has a file; its
    * timing then scores -1 in the report. */
  def writePlans(spark: SparkSession, entries: Seq[Entry], sfDir: String,
                 outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    entries.foreach { e =>
      val plan =
        try e.query(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case NonFatal(ex) =>
          s"PLAN FAILED: ${Option(ex.getMessage).getOrElse(ex.getClass.getName)}\n" }
      Files.writeString(Paths.get(outDir, s"${e.name}.txt"), plan)
    }
  }

  /** Plan ([[writePlans]]) and time ([[Bench.measure]]) `entries`: the
    * registry entries in one measure call, each pipeline's prefixes in one
    * call under that pipeline's performance confs, so the noop write that
    * AQE plans at runs under them too. */
  def profile(spark: SparkSession, entries: Seq[Entry], sfDir: String,
              outDir: String, runs: Int,
              compiles: Bench.CompileCounter = new Bench.CompileCounter)
      : List[(String, List[Double])] =
    entries.map(_.pipeline).distinct.toList.flatMap { p =>
      val group = entries.filter(_.pipeline == p)
      def run() = {
        writePlans(spark, group, sfDir, outDir)
        Bench.measure(spark, group.map(e => e.name -> e.query).toMap, sfDir,
          runs, compiles = compiles)
      }
      p.fold(run())(PipelineExecutor.withPerformanceConf(_)(run())(spark))
    }

  /** `#prefix <entry> <min> marginal=<min minus the previous prefix's>`
    * for each pipeline prefix entry, in chain order. A prefix after a
    * FAILED one prints `marginal=NA`: it has no base to subtract. */
  def marginalLines(entries: Seq[Entry],
                    results: Seq[(String, List[Double])]): List[String] = {
    val mins = results.toMap.view.mapValues(_.minOption).toMap
    def fmt(spec: String, v: Double) = spec.formatLocal(Locale.ROOT, v)
    var prev: Option[(String, Option[Double])] = None  // pipeline, its min
    entries.toList.flatMap(e => e.pipeline.map(_.pipelineId).map { p =>
      val base = prev match {
        case Some((`p`, t)) => t
        case _              => Some(0.0)  // the pipeline's first prefix
      }
      val sec = mins(e.name)
      prev = Some(p -> sec)
      sec.fold(s"#prefix ${e.name} FAILED") { t =>
        val m = base.fold("NA")(b => fmt("%+.4f", t - b))
        s"#prefix ${e.name} ${fmt("%.4f", t)} marginal=$m"
      }
    })
  }

  private object ProgressPrinter extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      println(s"#progress ${e.progress.name} batch=${e.progress.batchId} " +
        s"rows=${e.progress.numInputRows} durationMs=${e.progress.durationMs}")
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.tools.Profile <outDir> [target…] " +
      "(a target is a registry query name or a pipeline YAML file; none " +
      "means the whole registry)")
    val startLoad = Bench.loadAvg()  // before this JVM's own work
    val outDir = args.head
    val es = entries(args.tail.toSeq)
    val env = Bench.env()
    val spark = Bench.session(env.cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(ProgressPrinter)
    val tasks = new Bench.TaskCountListener
    spark.sparkContext.addSparkListener(tasks)
    val compiles = new Bench.CompileCounter
    val results = profile(spark, es, env.sfDir, outDir, env.runs, compiles)
    Thread.sleep(2000)  // listener delivery is async
    val (big, compact) = Bench.render(results, env.sfDir, startLoad,
      Bench.externalCpu(), tasks = tasks.snapshot, compiles = compiles.snapshot)
    Bench.writeArtifact(outDir, big)
    println(compact)
    Bench.perQueryLines(results).foreach(println)
    marginalLines(es, results).foreach(println)
    println(big)
    Console.out.flush()
    spark.stop()
  }
}
