package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.{ExecutionMode, PipelineConfig, YamlConfigParser}
import graft.runtime.{ExecutionMetrics, PipelineExecutor}
import graft.streaming.StreamingExecutor

import Main.median

/** Both workloads: generate inputs, warm up, then run passes over the
  * workload's pipelines until the measured time is used up, and check
  * every output after the timed region. */
final class BatchWorkload(a: Main.Args, sessionS: Double)(implicit spark: SparkSession) {
  private val root = a.root
  private val parser = new YamlConfigParser()

  /** One pipeline: its YAML for a given pass (every pass writes under its
    * own directory, so all outputs can be checked after the timed region
    * in one Spark job), and, for etl_batch, the same query as plain Spark
    * SQL whose result the output must digest to. Every output must also
    * digest the same as the warm-up pass's. */
  final case class Pipe(name: String, yaml: Int => String,
                        oracle: Option[DataFrame] = None, lineage: Boolean = false)

  /** Runs a config the way `graft.runtime.Main` does: batch configs through
    * `PipelineExecutor.execute`, micro-batch ones through
    * `StreamingExecutor.start`, waiting for the query to drain. */
  final case class Executors(batch: PipelineExecutor, streaming: StreamingExecutor) {
    def run(cfg: PipelineConfig): ExecutionMetrics = cfg.executionMode match {
      case ExecutionMode.MicroBatch =>
        val t0 = System.nanoTime()
        val q = streaming.start(cfg)
        q.awaitTermination()
        val err = q.exception.map(_.getMessage)
        ExecutionMetrics(cfg.pipelineId, q.runId.toString, if (err.isEmpty) "SUCCESS" else "FAILED",
          -1L, -1L, -1L, (System.nanoTime() - t0) / 1000000L, err)
      case ExecutionMode.Batch => batch.execute(cfg)
    }
  }

  /** One execution of a pipeline and where it wrote. */
  final case class Exec(pipe: Pipe, pass: Int, metrics: ExecutionMetrics, out: String,
                        wall: Double, traced: Boolean)

  /** Untimed passes before timing starts: the cold one and one more. With
    * the JIT limited to C1 (see run.py) pass times are flat from the second
    * pass on. */
  private val WarmupPasses = 2

  /** `--seconds` buys one timed pass per this many seconds, at least three
    * (four in a traced run); a warm pass takes 4-6 s on a 4-vCPU box. */
  private val SecondsPerPass = 5.0

  /** Input scale per workload. etl_batch: 100k lineitem rows plus 1%
    * planted duplicates (about sf 0.017), orders 25k, customer 2.5k.
    * examples_small: the sf0.001 sizes the examples were written against. */
  private val sizes = Map(
    "etl_batch" -> Inputs.TableSizes(lineitem = 100000, documents = 0, embeddings = 0, events = 0),
    "examples_small" -> Inputs.TableSizes(lineitem = 6000, documents = 500, embeddings = 500,
      events = 1000))

  private val tablesOf = Map(
    "etl_batch" -> Seq("lineitem", "orders", "customer"),
    "examples_small" -> Seq("lineitem", "orders", "documents", "embeddings", "events"))

  /** Examples that need only the sf0.001 tables: the cheapest ones that
    * still drive every module, relational (1, 14 scd2), text (8), dedup
    * (17 signature store), ann (20 codebook) and the streaming executor
    * (10: a watermarked window over landed event files, drained with
    * availableNow). */
  val Examples = Seq(
    "quickstart-1-sales-aggregation", "quickstart-10-streaming-window",
    "quickstart-14-dimension-history", "quickstart-8-signal-curation",
    "quickstart-17-signature-store-build", "quickstart-20-codebook-build")

  private def example(name: String, inDir: String): Int => String = {
    // the examples read the sf0.001 testdata tables and write under
    // /tmp/graft-examples; point both into this run's directory
    val text = Main.readText(s"${a.repo}/examples/$name.yaml")
      .replaceAll("""[^\s"']*/sf0\.001""", java.util.regex.Matcher.quoteReplacement(inDir))
      .replace("/tmp/graft-examples/quickstart-10-in", s"$inDir/events.parquet")
    pass => text.replace("/tmp/graft-examples", s"$root/ex/p$pass")
  }

  private def pipeline(name: String): Int => String = {
    val text = Main.readText(s"${a.repo}/perfbench/pipelines/$name.yaml")
    pass => text.replace("${ENV:PERFBENCH_ROOT}/out/", s"$${ENV:PERFBENCH_ROOT}/out/p$pass/")
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Problems with one execution, given the digests of its output, of
    * the warm-up run's output and of the oracle (absent when none). */
  private def problemsOf(e: Exec, got: Option[(Long, String)], warm: Option[(Long, String)],
                         oracle: Option[(Long, String)], columns: Seq[String]): Seq[String] =
    if (e.metrics.status != "SUCCESS")
      Seq(s"status ${e.metrics.status}: ${e.metrics.error.getOrElse("")}")
    else Seq(
      if (got.isEmpty) Some("no output digest") else None,
      warm.filter(w => got.exists(_ != w)).map(w => s"digest ${got.get} differs from the warm-up run's $w"),
      oracle.filter(o => got.exists(_ != o)).map(o => s"digest ${got.get}, plain Spark SQL gives $o"),
      if (e.pipe.lineage && !columns.contains("_lineage")) Some("no _lineage column") else None
    ).flatten

  def run(workload: String): Map[String, Any] = {
    val rep = mutable.LinkedHashMap[String, Any]()
    val problems = mutable.ArrayBuffer[String]()
    val tables = tablesOf(workload)

    // ---- set-up: inputs, then the warm-up passes ----
    val inDir = s"$root/in"
    val (_, genS) = time(Inputs.writeTables(a.seed, sizes(workload), tables, inDir))
    val pipes = workload match {
      case "etl_batch" => etlPipes(inDir)
      case "examples_small" => Examples.map(n => Pipe(n, example(n, inDir)))
    }
    val plain = Executors(new PipelineExecutor(), new StreamingExecutor())
    val execs = mutable.ArrayBuffer[Exec]()
    def execute(p: Pipe, pass: Int, traced: Option[(Tracer, Executors)]): Exec = {
      val yaml = p.yaml(pass)
      val t0 = System.nanoTime()
      val m = traced match {
        case Some((tr, ex)) =>
          tr.run = s"${p.name}#$pass"
          var res: ExecutionMetrics = null
          tr.span("pipeline") {
            val cfg = tr.span("config")(parser.parse(yaml))
            res = tr.span("runtime")(ex.run(cfg))
          }
          res
        case None => plain.run(parser.parse(yaml))
      }
      val e = Exec(p, pass, m, parser.parse(yaml).sink.options("path"),
        (System.nanoTime() - t0) / 1e9, traced.isDefined)
      execs += e
      e
    }
    val (warmPasses, warmupS) =
      time((0 until WarmupPasses).map(pass => pipes.map(p => execute(p, pass, None))))
    val warm = warmPasses.head
    rep("setup") = Map("session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warmupS)
    rep("setup_s") = sessionS + genS + warmupS
    // rows each pipeline's source reads at this input size (what the
    // executor observed on the warm-up run; a count where it could not)
    val inputRows = warm.map { e =>
      e.pipe.name -> (if (e.metrics.recordsExtracted >= 0) e.metrics.recordsExtracted else {
        val src = parser.parse(e.pipe.yaml(0)).source
        spark.read.format(src.options.getOrElse("format", "parquet")).load(src.options("path")).count()
      })
    }.toMap

    // ---- timed passes. A traced run alternates untraced and traced
    // passes (U T T U ...) so both see the same JIT state on average ----
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val traced = tracer.map(t => (t, Executors(
      new PipelineExecutor(t.sources(), t.transforms(), t.sinks()),
      new StreamingExecutor(t.sources(), t.transforms(), t.sinks()))))
    var heapPeak = 0.0
    val passCpu = mutable.ArrayBuffer[Double]()
    val passDetail = mutable.ArrayBuffer[Map[String, Double]]()
    val windows = mutable.ArrayBuffer[(Long, Long)]()
    val runs = mutable.ArrayBuffer[Layers.Run]()
    val jvmDelta = mutable.Map[String, Double]().withDefaultValue(0.0)
    // the pass count, not the clock, ends a run: a run that stopped
    // whenever the clock ran out would time one pass on a slow box and two
    // on a fast one, at different points of the JIT warm-up curve
    val timedPasses = math.max(if (a.trace) 4 else 3, math.ceil(a.seconds / SecondsPerPass).toInt)
    var pass = WarmupPasses
    while (pass < WarmupPasses + timedPasses) {
      val isTraced = a.trace && Set(1, 2).contains((pass - WarmupPasses) % 4)
      val ws = Clock.nowUs()
      val j0 = Main.jvmCounters()
      val t0 = System.nanoTime(); val c0 = Main.processCpuS(); val jit0 = Main.jitCpuS()
      pipes.foreach { p =>
        val e = execute(p, pass, traced.filter(_ => isTraced))
        traced.filter(_ => isTraced).foreach { case (tr, _) => runs += traceRun(tr, e.metrics) }
      }
      val processCpu = Main.processCpuS() - c0
      val jitCpu = Main.jitCpuS() - jit0
      val cpu = processCpu - jitCpu
      if (!isTraced) {
        val j1 = Main.jvmCounters()
        passDetail += Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "process_cpu_s" -> processCpu,
          "jit_cpu_s" -> jitCpu, "gc_s" -> (j1("jvm.gc_s") - j0("jvm.gc_s")))
        heapPeak = math.max(heapPeak, Main.liveHeapMb())
      }
      if (isTraced) {
        windows += ((ws, Clock.nowUs()))
        val j1 = Main.jvmCounters()
        Seq("jvm.gc_s", "jvm.jit_compile_s").foreach(k => jvmDelta(k) += j1(k) - j0(k))
      } else passCpu += cpu
      pass += 1
    }

    // ---- checks: every output, the oracles, the inputs, and the
    // generator probe (evaluated again at a small size it must digest the
    // same; another seed must digest differently). One Spark job per
    // pipeline and one for the inputs and probes, run side by side: they
    // are outside the timed region, so only the run's length depends on
    // how they are scheduled ----
    val checkT0 = System.nanoTime()
    val small = Inputs.TableSizes(100, 100, 100, 100)
    val ok = execs.filter(_.metrics.status == "SUCCESS").toSeq
    val groups: Seq[() => Seq[(String, DataFrame)]] = pipes.map { p => () =>
      ok.filter(_.pipe == p).map(e => s"out:${e.pipe.name}#${e.pass}" -> spark.read.parquet(e.out)) ++
        p.oracle.map(s"oracle:${p.name}" -> _)
    } :+ { () =>
      tables.map(t => s"in:$t" -> spark.read.parquet(s"$inDir/$t.parquet")) ++
        tables.flatMap(t => Seq(
          s"probe:$t/a" -> Inputs.table(t, a.seed, small),
          s"probe:$t/b" -> Inputs.table(t, a.seed, small),
          s"probe:$t/other" -> Inputs.table(t, a.seed + 1, small)))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.threads)
    val digested = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(groups) { g => Future {
        val frames = g()
        (if (frames.isEmpty) Map.empty[String, (Long, String)] else Inputs.digests(frames, Set("_lineage")),
          frames.map { case (k, df) => k -> df.columns.toSeq })
      }}, Duration.Inf)
    } finally pool.shutdown()
    val d = digested.flatMap(_._1).toMap
    val columns = digested.flatMap(_._2).toMap
    def check(e: Exec, warmDigest: Option[(Long, String)]): Seq[String] = {
      val k = s"out:${e.pipe.name}#${e.pass}"
      problemsOf(e, d.get(k), warmDigest, d.get(s"oracle:${e.pipe.name}"), columns.getOrElse(k, Nil))
    }
    val warmDigest = pipes.map(p => p.name -> d.get(s"out:${p.name}#0")).toMap
    val failures = execs.toSeq.flatMap { e =>
      val errs = check(e, if (e.pass == 0) None else warmDigest(e.pipe.name))
      if (errs.isEmpty) None else Some(s"${e.pipe.name}#${e.pass}: ${errs.mkString("; ")}")
    }
    tables.foreach { t =>
      if (d(s"probe:$t/a") != d(s"probe:$t/b")) problems += s"generator not deterministic for $t"
      if (d(s"probe:$t/a") == d(s"probe:$t/other")) problems += s"generator ignores the seed for $t"
    }
    // self-test: a deliberately wrong expectation must be reported
    ok.lastOption.foreach { e =>
      val got = d(s"out:${e.pipe.name}#${e.pass}")
      if (check(e, Some((got._1 + 1, got._2))).isEmpty)
        problems += "self-test: a wrong expectation was not reported"
    }
    rep("check_s") = (System.nanoTime() - checkT0) / 1e9
    rep("pass_detail") = passDetail.toSeq
    rep("inputs") = Map(
      "seed" -> a.seed,
      "rows" -> tables.map(t => t -> d(s"in:$t")._1).toMap,
      "digests" -> tables.map(t => t -> s"${d(s"in:$t")._1}:${d(s"in:$t")._2}").toMap,
      "planted" -> Map(
        "lineitem_null_frac" -> Inputs.LineitemNullFrac,
        "lineitem_dup_frac" -> Inputs.LineitemDupFrac,
        "doc_exact_dup_frac" -> Inputs.DocExactDupFrac,
        "doc_near_dup_frac" -> Inputs.DocNearDupFrac))

    val untraced = execs.filter(e => e.pass >= WarmupPasses && !e.traced).toSeq
    val tracedExecs = execs.filter(_.traced).toSeq
    def p50Of(xs: Seq[Exec], pipe: String) = median(xs.filter(_.pipe.name == pipe).map(_.wall))
    rep("samples") = untraced.size
    rep("passes") = passCpu.size
    val perPipe = pipes.map(p => p50Of(untraced, p.name))
    rep("end_to_end") = Map(
      "setup_s" -> rep("setup_s"),
      // the typical pipeline: each pipeline's median, averaged on a log
      // scale so that no single pipeline's jitter decides the value
      "pipeline_s_geomean" -> math.exp(perPipe.map(math.log).sum / perPipe.size),
      "pipeline_s_tail" -> perPipe.max,
      "input_rows_per_s" -> pipes.map(p => inputRows(p.name).toDouble).sum / perPipe.sum,
      "cpu_s_per_cycle" -> median(passCpu.toSeq),
      "heap_peak_mb" -> heapPeak,
      "failed_frac" -> failures.size.toDouble / execs.size)
    rep("per_pipeline_s_p50") = pipes.map(_.name).zip(perPipe).toMap
    rep("walls") = pipes.map(p => p.name -> execs.filter(_.pipe == p).map(_.wall).toSeq).toMap
    rep("input_rows") = inputRows

    tracer.foreach { tr =>
      tr.uninstall()
      val overhead = pipes.map(p => p50Of(tracedExecs, p.name) - p50Of(untraced, p.name)).sum
      val cycles = math.max(windows.size, 1).toDouble
      val jvm = Map("jvm.gc_s" -> jvmDelta("jvm.gc_s") / cycles,
        "jvm.jit_compile_s" -> jvmDelta("jvm.jit_compile_s") / cycles,
        "jvm.classes_loaded" -> Main.jvmCounters()("jvm.classes_loaded"))
      rep("per_layer") = Layers.metrics(tr, runs.toSeq, windows.toSeq, cycles, jvm, overhead)
      // the last traced run of each pipeline, by layer self time
      rep("trace_example") = pipes.map { p =>
        val t = Layers.tree(tr, runs.filter(_.root.run.startsWith(p.name + "#")).last)
        p.name -> Map(
          "wall_s" -> t.wall,
          "untraced_p50_s" -> p50Of(untraced, p.name),
          "traced_p50_s" -> p50Of(tracedExecs, p.name),
          "self_sum_s" -> t.self.values.sum,
          "self_s" -> t.self)
      }.toMap
    }

    rep("attempted") = execs.size
    rep("failed") = failures.size
    rep("failures") = failures.take(20)
    rep("problems") = problems.toSeq
    rep("correct") = failures.isEmpty && problems.isEmpty
    rep.toMap
  }

  /** Layers.Run for one traced execution, with the quality gate placed as
    * a span right after the first source read (where the executor runs
    * it). */
  private def traceRun(tr: Tracer, m: ExecutionMetrics): Layers.Run = {
    val own = tr.spans.filter(_.run == tr.run)
    val root = own.find(_.name == "pipeline").get
    val qualityMs = m.stages.find(_.stage == "quality").map(_.durationMs).getOrElse(0L)
    if (qualityMs > 0) {
      val runtime = own.find(_.name == "runtime").get
      own.filter(s => s.name == "sources" && s.parent == runtime.id).sortBy(_.start).headOption
        .foreach(src => tr.synthetic("quality", runtime.id, src.end,
          math.min(src.end + qualityMs * 1000L, runtime.end)))
    }
    Layers.Run(root, qualityMs, m.recordsFailed)
  }

  /** etl_batch: each pipeline's output must digest the same as the same
    * query written as plain Spark SQL over the same input; the gate's
    * output must also carry lineage. */
  private def etlPipes(inDir: String): Seq[Pipe] = {
    Seq("lineitem", "orders", "customer").foreach(t =>
      spark.read.parquet(s"$inDir/$t.parquet").createOrReplaceTempView(s"pb_$t"))
    Seq(
      Pipe("etl-filter-agg", pipeline("etl-filter-agg"), Some(spark.sql(
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS total_quantity,
          |  sum(cast(l_extendedprice * (1 - l_discount) AS decimal(20,4))) AS total_revenue,
          |  avg(cast(l_extendedprice AS decimal(18,2))) AS avg_price, count(*) AS n_lines
          |FROM pb_lineitem WHERE l_quantity > 5 GROUP BY l_returnflag, l_linestatus""".stripMargin))),
      Pipe("etl-join-window", pipeline("etl-join-window"), Some(spark.sql(
        """SELECT l.*, o.*, c.*, sum(cast(l_extendedprice AS decimal(18,2)))
          |  OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS running_spend
          |FROM pb_lineitem l JOIN pb_orders o ON l_orderkey = o_orderkey
          |JOIN pb_customer c ON o_custkey = c_custkey""".stripMargin))),
      Pipe("etl-quality-gate", pipeline("etl-quality-gate"), Some(spark.sql(
        """SELECT *, cast(l_extendedprice * (1 - l_discount) AS decimal(20,4)) AS l_net
          |FROM (SELECT DISTINCT * FROM pb_lineitem WHERE l_shipdate IS NOT NULL)""".stripMargin)),
        lineage = true))
  }
}
