package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failures are LOUD: a query whose body throws still produces an artifact —
  * a `_failed.json` manifest (query → error message) is always written into
  * outDir (empty `{}` when everything ran), so a broken query shows up as a
  * visible red row in the correctness report instead of silently vanishing
  * (round 7 lost 15 previously-green rows to exactly that silence). */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonObj(m: collection.Map[String, String]): String =
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  /** Run every query, write per-query parquet + oracle_sql.json +
    * _failed.json into outDir. Returns the failure manifest (name → error).
    * Factored out of main so a spec can inject a deliberately-broken query
    * and assert the failure artifact appears. */
  def run(spark: SparkSession,
          queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
          oracleSql: Map[String, String],
          sfDir: String, outDir: String): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failures = collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      // NonFatal only: an OOM must abort the run loudly, not be recorded
      // as one query's failure while every later query runs (and
      // spuriously "fails") in a heap-exhausted JVM
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
        // a PREVIOUS run's parquet (or this run's partial write) must not
        // survive next to a _failed.json entry naming the query — a
        // compare tool walking the dirs would see stale green output
        try {
          val dir = Paths.get(s"$outDir/$name")
          if (Files.exists(dir)) {
            import scala.jdk.CollectionConverters._
            Files.walk(dir).iterator().asScala.toSeq.reverse
              .foreach(Files.deleteIfExists(_))
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObj(oracleSql))
    Files.writeString(Paths.get(s"$outDir/_failed.json"), jsonObj(failures))
    failures.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // dev loop (mirrors Bench's SPARK_GRAFT_BENCH_ONLY): restrict the run
    // to a comma-separated query subset; the oracle manifest is filtered
    // too so tools/check_oracle.py stays coherent on the partial dir
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    only.foreach { names =>
      // a typo'd name must fail loudly, not verify zero queries and
      // leave an empty-but-clean-looking output dir — and so must an
      // EMPTY subset ("" from an unset interpolated shell variable)
      require(names.nonEmpty,
        "SPARK_GRAFT_VERIFY_ONLY is set but names no queries — unset it " +
          "for the full registry")
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val queries = only.map(s => SparkEntry.queries.filter(kv => s(kv._1)))
      .getOrElse(SparkEntry.queries)
    val oracles = only.map(s => SparkEntry.oracleSql.filter(kv => s(kv._1)))
      .getOrElse(SparkEntry.oracleSql)
    val failures = run(spark, queries, oracles, sfDir, outDir)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} FAILED: ${failures.keys.mkString(",")}")
    spark.stop()
  }
}
