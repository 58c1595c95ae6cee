package graft.tools

import org.apache.spark.sql.functions._

/** Scratch probe: is quality_rules' filter mode paying the signal walks
  * more than once per row (filter-through-project alias substitution)? */
object GopherProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.session("8")
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .where("text IS NOT NULL").localCheckpoint()
    val th = graft.operators.GopherRules.Thresholds(
      minWords = 12, minMeanWordLength = 2.5, maxMeanWordLength = 12.0,
      minAlphaFraction = 0.55, minStopwords = 1)
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def time(tag: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      force(f) // warm
      var best = Double.MaxValue
      (1 to 4).foreach { _ =>
        val t0 = System.nanoTime(); force(f)
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"#probe $tag%-22s $best%7.3f s")
    }
    time("annotate")(graft.operators.GopherRules.annotate(docs, "text", th))
    time("filter")(graft.operators.GopherRules.applyFilter(docs, "text", th))
    time("annotate+where") {
      graft.operators.GopherRules.annotate(docs, "text", th)
        .where(col("gopher_keep")).drop("gopher_keep", "gopher_fail")
    }
    println("=== filter-mode optimized plan (signal walk count):")
    val plan = graft.operators.GopherRules.applyFilter(docs, "text", th)
      .queryExecution.executedPlan.toString
    println("TokenSignals occurrences: " +
      "tokensignals\\(".r.findAllIn(plan.toLowerCase).length)
    println("LineSignals occurrences: " +
      "linesignals\\(".r.findAllIn(plan.toLowerCase).length)
    println("regexp_count occurrences: " +
      "regexp_count\\(".r.findAllIn(plan.toLowerCase).length)
    spark.stop()
  }
}
