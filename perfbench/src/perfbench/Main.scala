package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds the program, starts this main
  * with the run's private root directory, and turns the report line it
  * prints into the result line. Usage:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --root DIR --repo DIR --spawn-ms EPOCH_MS --threads N
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: String, repo: String, spawnMs: Long, threads: Int)

  val Workloads = Seq("etl_batch", "examples_small")

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("root"), need("repo"), need("spawn-ms").toLong, need("threads").toInt)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val loadStart = graft.Bench.loadAvg()
    implicit val spark: SparkSession = graft.runtime.Main.createSparkSession(
      graft.runtime.Main.AppConfig(pipelinePath = "", appName = "perfbench",
        master = Some(s"local[${a.threads}]"),
        conf = Map(
          "spark.ui.enabled" -> "false",
          "spark.sql.session.timeZone" -> "UTC",
          "spark.local.dir" -> s"${a.root}/spark-local",
          "spark.sql.warehouse.dir" -> s"${a.root}/warehouse",
          "spark.sql.shuffle.partitions" -> "8")))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - a.spawnMs) / 1e3
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> s"local[${a.threads}]",
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "load_avg_1m_start" -> loadStart))
    try {
      report ++= new BatchWorkload(a, sessionS).run(a.workload)
    } catch {
      case e: Throwable =>
        report("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    val ext = graft.Bench.externalCpu()
    report("external_cpu_end") = ext
    // the 1-min load is recorded, not judged: a run that follows another
    // starts with that run's load still in the average
    report("contended") = ext > graft.Bench.ExternalCpuThreshold
    spark.stop()
    println("PERFBENCH_REPORT " + Json.render(report.toMap))
  }

  // ---- shared helpers ----

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** CPU seconds of the JIT compiler threads so far, from
    * /proc/self/task (0 where that is missing). The JVM runs with a fixed
    * set of compiler threads, so none of them exits and takes its time
    * along. */
  def jitCpuS(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.toSeq.map { t =>
      try {
        if (!readText(s"$t/comm").startsWith("C1 CompilerThre")) 0.0
        else {
          // utime and stime are fields 14 and 15, in clock ticks of 10 ms
          val stat = readText(s"$t/stat")
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / 100.0
        }
      } catch { case _: java.io.IOException => 0.0 }
    }.sum
  }

  def jvmCounters(): Map[String, Double] = Map(
    "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3,
    "jvm.jit_compile_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "jvm.classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble)

  def readText(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  /** Heap in use right after a forced full collection: the live set, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    // the first collection hands Spark's context cleaner the broadcasts
    // and shuffles that died; the second frees what the cleaner released
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Minimal JSON writer for the report line. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }
}
