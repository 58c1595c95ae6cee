package graft.tools

import java.nio.file.{Files, Paths}

/** Optimization-round measurement aid: dump `.explain("formatted")` for
  * every SparkEntry query (or a comma-separated subset in args(1)) to
  * `<outDir>/<query>.txt`. Read-only with respect to the engine — plans
  * are captured from the same registry entries the bench times, so the
  * committed `plans/r17` before/after artifacts are provably the
  * plans of the measured code. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val queries = only match {
      case Some(names) =>
        val unknown = names.diff(graft.SparkEntry.queries.keySet)
        require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
        graft.SparkEntry.queries.view.filterKeys(names).toMap
      case None => graft.SparkEntry.queries
    }
    queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
        println(s"#plan $name ok")
      } catch { case scala.util.control.NonFatal(e) =>
        Files.writeString(Paths.get(outDir, s"$name.txt"),
          s"PLAN FAILED: ${Option(e.getMessage).getOrElse(e.getClass.getName)}\n")
        println(s"#plan $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
