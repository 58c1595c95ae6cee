package graft.tools

/** Scratch profiler: time q154's pipeline cumulatively, stage by stage
  * (prefix pipelines through the same PipelineExecutor.compose + noop
  * sink), so the per-stage marginal cost is visible. Dev aid only. */
object Q154Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val stages = List(
      ("nonnull", "filter", Map("condition" -> "text IS NOT NULL")),
      ("wrap", "map", Map("expressions" -> "text:concat('<!DOCTYPE html><html><head><style>p{color:red}</style><script>var x=1<2;</script></head><body><!-- ', cast(doc_id as string), ' --><h1>Doc &amp; &lt;title&gt;</h1><p>', text, '</p><ul><li>alpha</li><li>beta</li></ul></body></html>')")),
      ("strip", "html_strip", Map("columns" -> "text", "collapseWhitespace" -> "true", "trim" -> "true")),
      ("nfc", "normalize_text", Map("columns" -> "text", "form" -> "NFC")),
      ("staged", "materialize", Map.empty[String, String]),
      ("signals", "text_signals", Map("textColumn" -> "text", "signals" -> "tokens")),
      ("gate", "filter", Map("condition" -> "n_tokens >= 18")),
      ("gopher", "quality_rules", Map("textColumn" -> "text", "mode" -> "filter", "minWords" -> "12", "minMeanWordLength" -> "2.5", "maxMeanWordLength" -> "12.0", "minAlphaFraction" -> "0.55", "minStopwords" -> "1")),
      ("boilerplate", "dedup_lines", Map("idColumn" -> "doc_id", "textColumn" -> "text")),
      ("drop-emptied", "filter", Map("condition" -> "length(text) > 0")),
      ("neardup", "dedup_minhash", Map("idColumn" -> "doc_id", "textColumn" -> "text", "threshold" -> "1.0")),
      ("project", "map", Map("expressions" -> "text:text", "project" -> "true", "keep" -> "doc_id,source")),
      ("reweigh", "text_signals", Map("textColumn" -> "text", "signals" -> "tokens")),
      ("caps", "token_cap", Map("idColumn" -> "doc_id", "weightColumn" -> "n_tokens", "groupBy" -> "source", "budget" -> "400")),
      ("pack", "pack_sequences", Map("idColumn" -> "doc_id", "weightColumn" -> "n_tokens", "seqLen" -> "256")))
    def pipe(n: Int): org.apache.spark.sql.DataFrame = {
      import graft.config._
      val cfg = PipelineConfig(
        pipelineId = s"q154prof$n",
        source = SourceConfig("file", Map("path" -> s"$dir/documents.parquet", "format" -> "parquet")),
        transformations = stages.take(n).map { case (nm, t, o) => TransformConfig(nm, t, o) },
        sink = SinkConfig("file", Map("path" -> "/tmp/graft-unused"),
          writeMode = graft.config.WriteMode.Overwrite))
      new graft.runtime.PipelineExecutor().compose(cfg)(spark)
    }
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // optional args(0): dump the GOPHER-PREFIX plan (stages through
    // quality_rules filter) to a file — q154's FINAL plan starts at the
    // materialize checkpoint's ExistingRDD, so the quality_rules stage is
    // only visible in a prefix plan; this is the committed evidence that
    // the fused fail chain evaluates one TokenSignals per row
    if (args.nonEmpty) {
      // indexWhere's -1 would silently dump pipe(0), the bare source scan
      val gopherIdx = stages.indexWhere(_._1 == "gopher")
      require(gopherIdx >= 0, "no gopher stage to dump a prefix plan for")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
        pipe(gopherIdx + 1).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      println(s"#q154 gopher-prefix plan -> ${args(0)}")
    }
    // warmup full
    (1 to stages.length).foreach(n => force(pipe(n)))
    var prev = 0.0
    (1 to stages.length).foreach { n =>
      var best = Double.MaxValue
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        force(pipe(n))
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"#q154 stage ${stages(n - 1)._1}%-14s cum=$best%7.3f marginal=${best - prev}%+7.3f")
      prev = best
    }
    spark.stop()
  }
}
