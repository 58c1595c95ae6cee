package graft.tools

// Reproducible floor audit for q123 (cluster-mode survivor election) —
// measurement scaffolding, not library surface. Times each stage of the
// election pipeline on q123's exact corpus with Bench's force/min-of-2
// discipline; results and analysis live in docs/SCALE.md ("q123 floor
// audit"). Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain
// graft.tools.Q123Audit
object Q123Audit {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  private def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def time(name: String)(f: => DataFrame): Unit = {
    force(f) // warmup
    val ts = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); force(f); (System.nanoTime() - t0) / 1e9
    }
    println(f"#audit $name%-28s min=${ts.min}%.3f passes=${ts.map(t => f"$t%.3f").mkString(",")}")
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.session("8")
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val copies = docs.where(col("doc_id") < 40)
      .withColumn("doc_id", col("doc_id") + 900000L)
    val corpus = docs.unionByName(copies)
      .withColumn("quality", (col("doc_id") % 7).cast("double"))

    val ctx = graft.api.RunContext(spark, "audit", "audit")
    def t(opts: (String, String)*): graft.config.TransformConfig =
      graft.config.TransformConfig("audit", "dedup_minhash",
        Map("idColumn" -> "doc_id", "textColumn" -> "text",
          "threshold" -> "1.0") ++ opts)

    // stage 1: the banded-LSH pair frame alone
    time("pairs")(graft.dedup.Dedup.minhashNearDups(
      corpus, "doc_id", "text", threshold = 1.0))
    // stage 2: pairs + label propagation (driver-looped CC rounds)
    time("pairs+clusters")(graft.dedup.Dedup.clusters(
      graft.dedup.Dedup.minhashNearDups(corpus, "doc_id", "text", threshold = 1.0)))
    // full-query variants
    time("full: pair, id-survivor")(
      graft.operators.MinhashDedupTransform.apply(corpus, t(), ctx))
    time("full: pair, quality")(
      graft.operators.MinhashDedupTransform.apply(corpus,
        t("survivorColumn" -> "quality"), ctx))
    time("full: cluster, id-surv")(
      graft.operators.MinhashDedupTransform.apply(corpus,
        t("survivor" -> "cluster"), ctx))
    time("full: cluster, quality")(   // == q123
      graft.operators.MinhashDedupTransform.apply(corpus,
        t("survivor" -> "cluster", "survivorColumn" -> "quality"), ctx))
    spark.stop()
  }
}
