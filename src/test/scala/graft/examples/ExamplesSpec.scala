package graft.examples

import graft.SparkTestBase
import graft.config.YamlConfigParser
import graft.runtime.PipelineExecutor

/** Every shipped example YAML must parse and execute end-to-end with golden
  * results (the reference's quickstart scenarios, §5 layer 3). The
  * examples write under `/tmp/graft-examples`; here that prefix points at
  * a fresh scratch directory, `root`, deleted at exit. */
class ExamplesSpec extends SparkTestBase {
  import spark.implicits._
  private val executor = new PipelineExecutor()
  private val parser = new YamlConfigParser()
  private val root = tmpDir("graft-examples")

  private def parse(example: String) = parser.parse(
    java.nio.file.Files.readString(java.nio.file.Paths.get(s"examples/$example"))
      .replace("/tmp/graft-examples", root))

  private def run(example: String) = {
    val m = executor.execute(parse(example))
    withClue(m.error.getOrElse("")) { m.status shouldBe "SUCCESS" }
    m
  }

  test("quickstart-1: batch aggregation with expression aggregates and lineage") {
    run("quickstart-1-sales-aggregation.yaml")
    val out = spark.read.parquet(s"$root/quickstart-1-out")
    out.count() shouldBe 6 // 3 return flags × 2 statuses (A/F, N/O, R/F at this SF)
    out.columns should contain allOf ("total_quantity", "total_revenue", "avg_price", "n_lines", "_lineage")
    out.where("total_revenue <= 0").count() shouldBe 0
  }

  test("quickstart-2: kafka-style JSON metrics through tumbling windows") {
    val lines = (0 until 120).map { i =>
      val metric = if (i % 2 == 0) "cpu_usage" else "memory_usage"
      f"""{"timestamp": "2024-01-01 10:00:${i % 60}%02d", "metric_name": "$metric", "value": ${10.0 + i}}"""
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/metrics-topic"),
      lines.mkString("\n").getBytes)
    run("quickstart-2-metrics-windowing.yaml")
    val out = spark.read.parquet(s"$root/quickstart-2-out")
    // 60 distinct seconds → 6 ten-second windows × 2 metrics
    out.count() shouldBe 12
    out.columns shouldBe Array("window_start", "window_end", "metric_name", "avg_value", "max_value", "n")
    out.agg(org.apache.spark.sql.functions.sum("n")).as[Long].head() shouldBe 120
  }

  test("quickstart-4: training-data curation — quality gate, near-dedup, features") {
    val m = run("quickstart-4-training-data.yaml")
    val out = spark.read.parquet(s"$root/quickstart-4-out")
    val total = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    out.count() should be > 0L
    out.count() should be <= total // near-dups and short docs removed
    out.columns should contain allOf ("doc_id", "n_tokens", "text_len", "_lineage")
    out.where("n_tokens < 5").count() shouldBe 0
    val lineage = out.select("_lineage").as[String].head()
    lineage should include("dedup_minhash")
    m.stages.map(_.stage) should contain allOf ("extract", "quality", "transform+load")
  }

  test("quickstart-5: embedding near-dedup into a bucketed catalog table") {
    try {
      run("quickstart-5-bucketed-embeddings.yaml")
      // read back through the catalog: bucket layout makes the self-join on
      // vec_id exchange-free
      val t = spark.table("quickstart5_embeddings")
      t.count() should be > 0L
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined = t.join(t.select($"vec_id", $"label".as("label2")), Seq("vec_id"))
        joined.queryExecution.executedPlan.toString should not include "Exchange"
        joined.count() shouldBe t.count()
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql("DROP TABLE IF EXISTS quickstart5_embeddings")
  }

  test("quickstart-6: sampled, redacted, split and shard-packed corpus export") {
    run("quickstart-6-corpus-export.yaml")
    val out = spark.read.parquet(s"$root/quickstart-6-out")
    val n = out.count()
    n should be > 0L
    n.toDouble / 500 shouldBe 0.30 +- 0.08          // deterministic 3-of-10 sample
    out.columns should contain allOf ("split", "cum_before", "shard_id")
    out.select("split").distinct().collect().map(_.getString(0)).toSet should
      contain ("train")                              // labels present, train dominant
    // shard budget honored: every shard's exclusive prefix range fits 20000
    import org.apache.spark.sql.functions._
    val over = out.groupBy("shard_id")
      .agg((max(col("cum_before")) - min(col("cum_before"))).as("span"))
      .where(col("span") >= 20000).count()
    over shouldBe 0L
  }

  test("quickstart-7: mixture weights → per-language caps → redact → tfidf") {
    run("quickstart-7-corpus-mixture.yaml")
    val out = spark.read.parquet(s"$root/quickstart-7-out")
    out.columns shouldBe Array("doc_id", "term", "tf", "df", "tfidf")
    out.count() should be > 0L
    // the stratified cap bounds the surviving corpus: ≤ 25 docs per language
    out.select("doc_id").distinct().count() should be <= (5L * 25)
    out.where("tfidf <= 0 OR tf < 1 OR df < 1").count() shouldBe 0
  }

  test("quickstart-8: signal scoring, quality gate, context-window chunking") {
    run("quickstart-8-signal-curation.yaml")
    val out = spark.read.parquet(s"$root/quickstart-8-out")
    out.count() should be > 0L
    out.columns should contain allOf ("doc_id", "quality_score", "chunk_id",
      "chunk_text", "chunk_len", "_lineage")
    out.columns should contain ("lang_pred") // partition column survives
    // the chunk grid never exceeds the configured size
    out.where("chunk_len > 400 OR chunk_len < 1").count() shouldBe 0
    // quality gate applied before chunking
    out.where("quality_score <= 0.3").count() shouldBe 0
  }

  test("quickstart-9: weekly resample, gap-filled rolling revenue, lag deltas") {
    run("quickstart-9-order-analytics.yaml")
    val out = spark.read.parquet(s"$root/quickstart-9-out")
    out.count() should be > 0L
    out.columns should contain allOf ("o_orderstatus", "bucket_start",
      "n_orders", "revenue", "rolling_4wk_revenue", "prev_week_revenue")
    // gap filling: consecutive buckets per status are exactly 7 days apart
    val gaps = out.where("o_orderstatus = 'F'").orderBy("bucket_start")
      .selectExpr("unix_millis(cast(bucket_start as timestamp)) AS ms")
      .collect().map(_.getLong(0))
      .sliding(2).map(p => p(1) - p(0)).toSet
    gaps shouldBe Set(7L * 24 * 3600 * 1000)
    // the rolling frame never exceeds 4 weeks of revenue
    out.where("rolling_4wk_revenue < revenue").count() shouldBe 0
  }

  test("quickstart-10: streaming YAML — watermarked window agg, exactly-once file sink") {
    import org.apache.spark.sql.functions._
    // stage input files (a fresh root: no checkpoint to make the run a no-op)
    (1 to 500).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        (i % 48) * 3600 * 1000L, (i % 10).toLong, i / 100.0)
    }.toDF("event_id", "ms", "user_id", "value")
      .select(col("event_id"), timestamp_millis(col("ms")).as("ts"),
        col("user_id"), col("value"))
      .write.parquet(s"$root/quickstart-10-in")
    val cfg = parse("quickstart-10-streaming-window.yaml")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val q = new graft.streaming.StreamingExecutor().start(cfg)(spark)
      q.awaitTermination(120000)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    val out = spark.read.parquet(s"$root/quickstart-10-out")
    out.columns.toSeq shouldBe Seq("window_start", "window_end", "user_id",
      "n_events", "total_value")
    // append mode emits only watermark-closed windows: ends <= max ts - 2h
    out.count() should be > 0L
    val maxEnd = out.agg(max("window_end")).collect().head.getTimestamp(0).getTime
    maxEnd should be <= (java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime +
      (47 - 2) * 3600 * 1000L + 3600 * 1000L)
  }

  test("quickstart-11: percentile length gate + top-source monitoring report") {
    run("quickstart-11-corpus-monitoring.yaml")
    val out = spark.read.parquet(s"$root/quickstart-11-out")
    out.columns.toSeq shouldBe Seq("lang", "item", "est_count", "rank")
    val langs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("lang").distinct().count()
    out.count() shouldBe langs * 5 // top 5 sources per language
    out.where("rank < 1 OR rank > 5").count() shouldBe 0
    out.where("est_count <= 0").count() shouldBe 0
  }

  test("quickstart-12: semantic dedup keeps a subset and records lineage") {
    val m = run("quickstart-12-semantic-dedup.yaml")
    val out = spark.read.parquet(s"$root/quickstart-12-out")
    val total = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    out.count() should be > 0L
    out.count() should be <= total
    out.select("_lineage").as[String].head() should include("dedup_semantic")
    m.stages.map(_.stage) should contain("transform+load")
  }

  test("quickstart-13: URL-keyed web curation with per-domain caps") {
    run("quickstart-13-web-curation.yaml")
    val out = spark.read.parquet(s"$root/quickstart-13-out")
    val total = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    out.count() should be > 0L
    out.count() should be <= total
    out.columns should contain allOf ("url", "domain", "doc_id")
    // canonicalization: lowercased scheme/host, www and tracking params gone
    out.where("url NOT LIKE 'https://%' OR url LIKE '%www.%' OR url LIKE '%utm_%'")
      .count() shouldBe 0
    // per-domain cap: kept chars stay under budget + one boundary doc
    val maxDoc = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .agg(org.apache.spark.sql.functions.max("n_chars")).as[Long].head()
    val worst = out.groupBy("domain")
      .agg(org.apache.spark.sql.functions.sum("n_chars").as("tot"))
      .agg(org.apache.spark.sql.functions.max("tot")).as[Long].head()
    worst should be <= (5000L + maxDoc)
  }

  test("quickstart-14: SCD2 customer history from the order change log") {
    run("quickstart-14-dimension-history.yaml")
    val out = spark.read.parquet(s"$root/quickstart-14-out")
    out.columns should contain allOf
      ("cust", "status", "effective_from", "effective_to", "is_current")
    // exactly one open (current) version per customer
    val custs = out.select("cust").distinct().count()
    out.where("is_current").count() shouldBe custs
    out.where("is_current AND effective_to IS NOT NULL").count() shouldBe 0
    // versions chain: every closed version's end = some later version's start
    out.where("NOT is_current AND effective_to IS NULL").count() shouldBe 0
  }

  test("quickstart-15: CDC log → SCD2 history → merge-upserted dimension") {
    import org.apache.spark.sql.functions._
    // derive two real (cust, effective_from) keys from the raw change log:
    // a key's FIRST version always survives scd2 (row_number == 1) with
    // effective_from = its min event seq, so these targets are deterministic
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val firsts = orders.groupBy("o_custkey").agg(min("o_orderkey").as("ef"))
      .orderBy("o_custkey").limit(2).collect()
    val (delCust, delEf) = (firsts(0).getLong(0), firsts(0).getLong(1))
    val (updCust, updEf) = (firsts(1).getLong(0), firsts(1).getLong(1))
    val corrections = Seq(
      // retraction: op=D removes this (cust, effective_from) version
      s"""{"cust": $delCust, "status": "F", "effective_from": $delEf, "effective_to": null, "is_current": false, "op": "D", "corr_seq": 1}""",
      // stale then fresh correction for the SAME key: corr_seq latest-wins
      s"""{"cust": $updCust, "status": "STALE", "effective_from": $updEf, "effective_to": null, "is_current": false, "op": "U", "corr_seq": 2}""",
      s"""{"cust": $updCust, "status": "Z", "effective_from": $updEf, "effective_to": null, "is_current": false, "op": "U", "corr_seq": 3}""",
      // brand-new key: inserts
      s"""{"cust": 10000000, "status": "X", "effective_from": 1, "effective_to": null, "is_current": true, "op": "U", "corr_seq": 4}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/corrections-topic"),
      corrections.mkString("\n").getBytes)
    run("quickstart-15-cdc-dimension-upsert.yaml")
    val out = spark.read.parquet(s"$root/quickstart-15-out")
    out.columns should contain allOf
      ("cust", "status", "effective_from", "effective_to", "is_current")
    out.where(s"cust = $delCust AND effective_from = $delEf").count() shouldBe 0
    out.where(s"cust = $updCust AND effective_from = $updEf")
      .select("status").as[String].head() shouldBe "Z"
    out.where("cust = 10000000").count() shouldBe 1
    // every history row not named by a correction passed through untouched
    val history = out.where(
      s"NOT (cust IN ($delCust, $updCust, 10000000) AND effective_from IN ($delEf, $updEf, 1))")
    history.where("is_current AND effective_to IS NOT NULL").count() shouldBe 0
  }

  test("quickstart-16: gated corpus packed into training sequences under planLint=fail") {
    try {
      run("quickstart-16-sequence-packing.yaml")
    } finally spark.conf.unset("spark.graft.planLint")
    val out = spark.read.parquet(s"$root/quickstart-16-out")
    out.count() should be > 0L
    out.columns should contain allOf ("doc_id", "seq_id", "tok_start", "tok_end", "pos_in_seq")
    // exactly-seqLen invariant: every sequence but the last carries 512
    import org.apache.spark.sql.functions._
    val perSeq = out.groupBy("seq_id")
      .agg(sum(col("tok_end") - col("tok_start")).as("w")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val last = perSeq.keys.max
    perSeq.filter(_._1 != last).values.toSet shouldBe Set(512L)
    perSeq(last) should be <= 512L
    // the quality gate ran: packed docs are a subset of the corpus
    out.select("doc_id").distinct().count() should be <=
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
  }

  test("quickstart-17: signature store built in run N, consumed by run N+1") {
    import org.apache.spark.sql.functions._
    // run N: persist the corpus's MinHash signatures
    run("quickstart-17-signature-store-build.yaml")
    val store = spark.read.parquet(s"$root/quickstart-17-signatures")
    store.columns should contain allOf ("doc_id", "sh", "sig", "mh_bands")
    store.columns.contains("text") shouldBe false // the whole point of the store
    // stage the increment: verbatim copies of 10 corpus docs (guaranteed
    // J=1 hits against the store) + the rest of the corpus re-idd as fresh
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val copies = docs.where("doc_id < 10")
      .withColumn("doc_id", col("doc_id") + 500000L)
    copies.write.mode("overwrite")
      .parquet(s"$root/quickstart-17-increment")
    // run N+1: dedup the increment against the store — no corpus text read
    run("quickstart-17-signature-store-dedup.yaml")
    val out = spark.read.parquet(s"$root/quickstart-17-out")
    out.count() shouldBe 0 // every increment row is a verbatim dup of history
  }

  test("quickstart-25: language model trained in run N classifies an " +
    "unlabeled corpus in run N+1") {
    import spark.implicits._
    // stage the LABELED training corpus: the synthetic testdata's `lang`
    // column is decorative (every row is the same English word salad), so
    // the example trains on genuinely multilingual staged text
    val labeled = Seq(
      ("en", "the quick brown fox jumps over the lazy dog and runs away with the morning paper"),
      ("en", "this is another sentence written in plain english about nothing in particular"),
      ("de", "der schnelle braune fuchs springt über den faulen hund und läuft mit der zeitung davon"),
      ("de", "dies ist ein weiterer deutscher satz über nichts besonderes geschrieben"),
      ("fr", "le renard brun rapide saute par dessus le chien paresseux et s'enfuit avec le journal"),
      ("fr", "ceci est une autre phrase écrite en français qui ne parle de rien de particulier"),
      ("es", "el rápido zorro marrón salta sobre el perro perezoso y huye con el periódico"),
      ("es", "esta es otra frase escrita en español que no trata de nada en particular"),
      ("zh", "敏捷的棕色狐狸跳过懒狗 带着早报跑掉了 这是一个中文句子"),
      ("zh", "这是另一个用中文写的句子 没有什么特别的内容 只是一个样本")
    ).toDF("lang", "text")
    labeled.write.mode("overwrite")
      .parquet(s"$root/quickstart-25-labeled")
    // run N: persist the per-(lang, trigram) count store
    run("quickstart-25-lang-model-train.yaml")
    val store = spark.read.parquet(s"$root/quickstart-25-lang-model")
    store.columns.toSeq should contain allOf ("label", "gram", "cnt", "clm_n")
    store.columns.contains("text") shouldBe false // counts only, never text
    store.select("label").distinct().count() shouldBe 5 // en/de/fr/es/zh
    // stage the UNLABELED held-out corpus: new sentences, same languages
    val heldOut = Seq(
      (1L, "en", "a lazy dog sleeps while the quick fox runs through the morning"),
      (2L, "de", "über den hund springt der braune fuchs mit der schnellen zeitung"),
      (3L, "fr", "le chien paresseux dort pendant que le renard rapide s'enfuit"),
      (4L, "es", "el perro perezoso duerme mientras el zorro rápido huye"),
      (5L, "zh", "狐狸跳过狗 带着报纸跑掉 中文样本句子"),
      (6L, "en", "x")) // shorter than n: no grams → 'und'
      .toDF("doc_id", "true_lang", "text")
    heldOut.select("doc_id", "text").write.mode("overwrite")
      .parquet(s"$root/quickstart-25-unlabeled")
    // run N+1: classify against the store — no labeled text read
    run("quickstart-25-lang-classify.yaml")
    val out = spark.read.parquet(s"$root/quickstart-25-out")
    out.columns should contain allOf ("lang_pred", "lang_score")
    val preds = out.select("doc_id", "lang_pred").as[(Long, String)]
      .collect().toMap
    preds shouldBe Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es",
      5L -> "zh", 6L -> "und")
    // the en-model perplexity signal from the SAME store: lowest for the
    // English doc, null only for the gram-less one
    val nll = out.select("doc_id", "en_nll").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    nll(6L) shouldBe None
    val defined = nll.collect { case (k, Some(v)) => k -> v }
    defined.keySet shouldBe Set(1L, 2L, 3L, 4L, 5L)
    defined.minBy(_._2)._1 shouldBe 1L
  }

  test("quickstart-18: span decontamination then span dedup — spans excised, " +
    "documents never dropped for contamination") {
    import org.apache.spark.sql.functions._
    run("quickstart-18-span-dedup.yaml")
    val out = spark.read.parquet(s"$root/quickstart-18-out")
    val orig = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where("doc_id >= 250")
    out.count() should be > 0L
    out.where("doc_id < 250").count() shouldBe 0
    out.where("length(trim(text)) = 0").count() shouldBe 0 // survivors filter
    // spans were actually excised somewhere: at least one surviving doc
    // shrank vs its original text
    val shrunk = out.select(col("doc_id"), org.apache.spark.sql.functions.length(col("text")).as("l"))
      .join(orig.select(col("doc_id"), org.apache.spark.sql.functions.length(col("text")).as("l0")), "doc_id")
      .where(col("l") < col("l0")).count()
    shrunk should be > 0L
  }

  test("quickstart-19: gram store built in run N, span decontamination " +
    "consumes it in run N+1 without reading reference text") {
    import org.apache.spark.sql.functions._
    run("quickstart-19-gram-store-build.yaml")
    val store = spark.read.parquet(s"$root/quickstart-19-gram-store")
    store.columns.toSeq should contain theSameElementsAs Seq("gh", "sg_n")
    run("quickstart-19-gram-store-decontam.yaml")
    val out = spark.read.parquet(s"$root/quickstart-19-out")
    val orig = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where("doc_id >= 250")
    out.count() should be > 0L
    out.where("doc_id < 250").count() shouldBe 0
    // the store path must rewrite exactly like the text-reference path
    val refHashes = graft.dedup.SpanDedup.gramSignatures(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where("doc_id < 250"), "text", n = 8).select("gh")
    val viaText = graft.dedup.SpanDedup.removeSpans(orig, "doc_id", "text",
      graft.dedup.SpanDedup.referenceSpans(orig, "doc_id", "text", refHashes, n = 8))
      .where(org.apache.spark.sql.functions.length(trim(col("text"))) > 0)
    out.select("doc_id", "text").except(viaText.select("doc_id", "text"))
      .count() shouldBe 0
    viaText.count() shouldBe out.count()
  }

  test("quickstart-20: codebook trained and persisted in run N, clustering " +
    "consumes it in run N+1 without a sampling scan") {
    import org.apache.spark.sql.functions._
    run("quickstart-20-codebook-build.yaml")
    val store = spark.read.parquet(s"$root/quickstart-20-codebook")
    store.columns.toSeq should contain theSameElementsAs
      Seq("list_id", "vec", "cb_n_lists", "cb_kmeans_iters", "cb_rows")
    store.count() shouldBe 16
    run("quickstart-20-codebook-cluster.yaml")
    val out = spark.read.parquet(s"$root/quickstart-20-out")
    val total = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    out.count() shouldBe total
    out.columns should contain allOf ("vec_id", "cluster_id", "centroid_sim")
    out.where("cluster_id < 0 OR cluster_id >= 16").count() shouldBe 0
    // the store path must assign exactly like training in-process with the
    // same parameters (the codebook IS that training run, persisted)
    val cents = graft.ann.Ann.loadCodebook(store)
    val inProc = graft.ann.Ann.kmeansCentroids(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", nLists = 16, iters = 2)
    cents.map(_.toSeq) shouldBe inProc.map(_.toSeq)
  }

  test("quickstart-21: temperature mixing rebalances languages toward " +
    "uniform at the same corpus size, with split labels") {
    import org.apache.spark.sql.functions._
    run("quickstart-21-temperature-mix.yaml")
    val out = spark.read.parquet(s"$root/quickstart-21-out")
    val in = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def spread(df: org.apache.spark.sql.DataFrame): Double = {
      val counts = df.groupBy("lang").count().select("count").as[Long].collect()
      counts.max.toDouble / counts.min
    }
    // alpha = 0.3 damps the head language's dominance (en is ~2.7x the
    // smallest language at this SF; the mixture lands well under 2x)
    spread(out) should be < spread(in) * 0.7
    // default budget: expected output size = input size; the realized
    // size is deterministic and lands within a few percent
    out.count().toDouble shouldBe in.count().toDouble +- in.count() * 0.05
    out.where("lang IS NULL").count() shouldBe 0
    // under-represented languages upsample: some doc appears twice, and
    // every duplicate's copies agree on their split label (same id)
    val dupSplits = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("split")).as("labels"))
      .where(col("n") > 1)
    dupSplits.count() should be > 0L
    dupSplits.where(col("labels") =!= 1).count() shouldBe 0L
    out.select("split").distinct().count() shouldBe 3
  }

  test("quickstart-22: DSIR selection — importance scoring against an " +
    "English target skews the kept half toward English") {
    run("quickstart-22-dsir-selection.yaml")
    val out = spark.read.parquet(s"$root/quickstart-22-out")
    out.columns.toSeq should contain theSameElementsAs
      Seq("doc_id", "lang", "text", "importance")
    val in = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // top-half gate: roughly half the corpus survives (approx percentile)
    out.count().toDouble shouldBe in.count() / 2.0 +- in.count() * 0.1
    // the selection must skew toward the target language: English's share
    // of the kept set exceeds its share of the raw corpus
    def enShare(df: org.apache.spark.sql.DataFrame) =
      df.where("lang = 'en'").count().toDouble / df.count()
    enShare(out) should be > enShare(in) + 0.1
    // every kept doc carries its (finite) score
    out.where("importance IS NULL OR isnan(importance)").count() shouldBe 0
  }

  test("quickstart-27: the composed selection recipe — trained language " +
    "gate, DSIR against a persisted target, quantile gate, weighted draw") {
    // the target model: curated English sentences (what good data looks
    // like) — the store carries gram counts, never this text
    Seq(
      "the quick brown fox jumps over the lazy dog every single morning",
      "a well written english paragraph flows from one idea to the next",
      "the morning paper arrives before sunrise and the town slowly wakes")
      .toDF("text").write.mode("overwrite")
      .parquet(s"$root/quickstart-27-target-corpus")
    run("quickstart-27-target-model-train.yaml")
    val store = spark.read.parquet(s"$root/quickstart-27-target-model")
    store.select("label").distinct().as[String].collect() shouldBe Array("tgt")
    // the raw corpus: english docs (ids < 100) + german docs (ids >= 100);
    // the language model is quickstart-25's persisted store (run above —
    // suites run in file order, but stage it here defensively if absent)
    if (!new java.io.File(s"$root/quickstart-25-lang-model").exists()) {
      Seq(
        ("en", "the quick brown fox jumps over the lazy dog and runs away with the morning paper"),
        ("en", "this is another sentence written in plain english about nothing in particular"),
        ("de", "der schnelle braune fuchs springt über den faulen hund und läuft mit der zeitung davon"),
        ("de", "dies ist ein weiterer deutscher satz über nichts besonderes geschrieben"))
        .toDF("lang", "text").write.mode("overwrite")
        .parquet(s"$root/quickstart-25-labeled")
      run("quickstart-25-lang-model-train.yaml")
    }
    val en = Seq(
      "the lazy dog sleeps while the quick fox runs through the town",
      "the paper said nothing in particular about the quiet morning",
      "a fox and a dog ran over the hill before the sun was up",
      "every morning the town wakes slowly to the sound of the paper",
      "this sentence is written in plain english and flows quite well",
      "the next idea arrives before the last one has fully settled")
    val de = Seq(
      "der faule hund schläft während der schnelle fuchs durch die stadt läuft",
      "die zeitung schrieb nichts besonderes über den ruhigen morgen",
      "jeden morgen erwacht die stadt langsam mit der zeitung")
    (en.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      de.zipWithIndex.map { case (t, i) => (100L + i, t) })
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$root/quickstart-27-corpus")
    run("quickstart-27-dsir-lang-select.yaml")
    val out = spark.read.parquet(s"$root/quickstart-27-out")
    out.columns.toSeq should contain theSameElementsAs
      Seq("doc_id", "text", "importance", "dsir_w")
    out.count() should be > 0L
    out.count() should be <= 8L // the draw's k
    // the language gate held: every survivor is from the English block
    out.where("doc_id >= 100").count() shouldBe 0L
    // the quantile gate held: at most half the english docs survive
    out.count() should be <= (en.length / 2 + 1).toLong
    // weights are the documented transform of the score
    out.where("abs(dsir_w - round(exp(importance), 4)) > 1e-9")
      .count() shouldBe 0L
  }

  test("quickstart-23: nightly curation increment against four persisted " +
    "stores — dedup chain, quality gate, mixture, BPE-packed shards") {
    import org.apache.spark.sql.functions._
    // run N: the store builders (signature, gram, codebook, tokenizer) —
    // each its own pipeline. History scope matters: the signature and
    // gram stores cover YESTERDAY'S corpus (the reference half) only —
    // a store covering tonight's documents would correctly flag the
    // whole increment as already seen.
    run("quickstart-23-history-signatures.yaml")
    run("quickstart-19-gram-store-build.yaml")
    run("quickstart-20-codebook-build.yaml")
    run("quickstart-23-bpe-store.yaml")
    // stage the increment: the non-reference half, plus one planted
    // duplicate per dedup stage — a verbatim IN-increment copy (only
    // exact dedup can drop it) and re-idd copies of STORED history whose
    // text is unique inside the increment (only minhash-vs-store can)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val half = docs.where("doc_id >= 250")
    val inCopy = half.where("doc_id < 260")
      .withColumn("doc_id", col("doc_id") + 600000L)
    val histCopy = docs.where("doc_id < 10")
      .withColumn("doc_id", col("doc_id") + 500000L)
    half.unionByName(inCopy).unionByName(histCopy).write.mode("overwrite")
      .parquet(s"$root/quickstart-23-increment")
    run("quickstart-23-nightly-curation.yaml")
    val out = spark.read.parquet(s"$root/quickstart-23-out")
    out.count() should be > 0L
    // both planted duplicate families are gone, each via its stage
    out.where("doc_id >= 500000").count() shouldBe 0
    // the packed/sharded layout in BPE tokens, token count carried along
    out.columns should contain allOf ("seq_id", "tok_start", "tok_end",
      "pos_in_seq", "shard_id", "n_bpe_tokens")
    // spans respect the 256-token sequences and the exactly-N invariant
    out.where("tok_end - tok_start > 256 OR tok_start < 0").count() shouldBe 0
    val maxSeq = out.agg(max("seq_id")).head().getLong(0)
    out.where(s"seq_id <> $maxSeq").groupBy("seq_id")
      .agg(sum(expr("tok_end - tok_start")).as("units"))
      .where("units <> 256").count() shouldBe 0
    // only reference-half survivors with embeddings remain, and lineage
    // names the store-backed stages
    out.where("doc_id < 250").count() shouldBe 0
    val lineage = out.select("_lineage").as[String].head()
    lineage should include ("dedup_minhash")
    lineage should include ("pack_sequences")
    lineage should include ("shard")
  }

  test("quickstart-24: training export — sharded fixed-length input_ids " +
    "rows + vocab sidecar, detokenizable back to the corpus") {
    import org.apache.spark.sql.functions._
    run("quickstart-23-bpe-store.yaml")   // run N: train the tokenizer
    run("quickstart-24-vocab-export.yaml")
    run("quickstart-24-training-export.yaml")
    val vocab = spark.read.parquet(s"$root/quickstart-24-vocab")
    vocab.columns.toSeq shouldBe Seq("token_id", "token")
    vocab.where("token_id = 0").select("token").as[String].head() shouldBe "<unk>"
    val out = spark.read.parquet(s"$root/quickstart-24-out")
    out.columns should contain allOf ("seq_id", "input_ids",
      "attention_mask", "n_docs", "seq_weight", "shard_id")
    // RECTANGULAR: every row (the padded final one included) is exactly
    // 256 ids with a matching mask; mask 1s count the real ids
    out.where("size(input_ids) <> 256 OR size(attention_mask) <> 256")
      .count() shouldBe 0
    out.where(
      "aggregate(attention_mask, 0, (a, x) -> a + x) <> seq_weight")
      .count() shouldBe 0
    // no <unk> leaked: the tokenizer was trained on this corpus, so every
    // symbol has an id — a 0 in the export means the alphabet lost rows
    // (pads are -1, unambiguous by construction)
    out.where(array_contains(col("input_ids"), 0)).count() shouldBe 0
    // lossless: concatenating all sequences in seq_id order, dropping the
    // pads, and detokenizing through the exported vocab reproduces the
    // normalized corpus text laid end-to-end in doc_id order
    val v = vocab.orderBy("token_id").select("token").as[String].collect()
    val packedText = out.orderBy("seq_id")
      .select(explode(col("input_ids")).as("id"))
      .as[Int].collect().filter(_ >= 0).map(v(_)).mkString
      .replace("</w>", " ").trim
    val corpusText = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .where("text IS NOT NULL AND length(trim(text)) > 0")
      .orderBy("doc_id").select("text").as[String].collect()
      .map(_.trim.replaceAll("[ \t\n\f\r]+", " ")).mkString(" ")
    packedText shouldBe corpusText
  }

  test("quickstart-26: the composed curation pipeline — every stage " +
    "participates, the output is packed spans, and the composed plan is " +
    "PlanLint error-clean") {
    import org.apache.spark.sql.functions._
    val cfg = parse("quickstart-26-curation-pipeline.yaml")
    // the COMPOSED plan carries no lint errors (no cartesian product, no
    // global window) — the composition interacts cleanly, not just the
    // stages in isolation
    val composed = executor.compose(cfg)(spark)
    val findings = graft.plans.PlanLint.audit(composed)
    withClue(findings.mkString("; ")) {
      findings.filter(_.severity == "error") shouldBe empty
    }
    run("quickstart-26-curation-pipeline.yaml")
    val out = spark.read.parquet(s"$root/quickstart-26-out")
    out.columns should contain allOf ("doc_id", "source", "seq_id",
      "tok_start", "tok_end", "pos_in_seq")
    val docs = out.select("doc_id").distinct().count()
    docs should be > 0L
    // the per-source cap binds: far fewer docs than the corpus
    docs should be < spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").count()
    // packing arithmetic: every span fits the 256-token grid
    out.where("tok_end <= tok_start OR pos_in_seq >= 256 OR tok_start < 0")
      .count() shouldBe 0
    // every sequence except (possibly) the last is exactly full: the
    // spans landing in one seq_id cover 256 positions
    val full = out.groupBy("seq_id")
      .agg(sum(col("tok_end") - col("tok_start")).as("covered"))
    val maxSeq = full.agg(max("seq_id")).head().getLong(0)
    full.where(col("seq_id") < maxSeq && col("covered") =!= 256)
      .count() shouldBe 0
  }

  test("quickstart-28: perceptual image dedup — near-duplicate payloads " +
    "collapse to one copy, undecodable rows survive") {
    import org.apache.spark.sql.functions._
    // stage a crawl shard: 12 images over 4 distinct scenes (seed = id%4)
    // plus one unreadable payload
    val png = udf((id: Long) =>
      graft.multimodal.Multimodal.syntheticImagePng(id % 4, 32, 24))
    (0L until 12L).toDF("img_id")
      .select(col("img_id"), png(col("img_id")).as("payload"))
      .union(Seq((99L, "corrupted-bytes".getBytes("UTF-8")))
        .toDF("img_id", "payload"))
      .write.mode("overwrite")
      .parquet(s"$root/quickstart-28-images")
    run("quickstart-28-image-dedup.yaml")
    val out = spark.read.parquet(s"$root/quickstart-28-out")
    // one survivor per scene (the smallest id) + the unreadable row
    out.select("img_id").as[Long].collect().sorted shouldBe
      Array(0L, 1L, 2L, 3L, 99L)
  }

  test("quickstart-33: codebook persisted in run N, the embedding increment " +
    "dedups semantically against yesterday's corpus in run N+1") {
    import org.apache.spark.sql.functions._
    // run N's corpus: 8 one-hot embeddings over 4 orthogonal directions
    // (vec_id % 4) — provable cells, like the q176/q177 oracle corpus
    def oneHot(mod: Int) = expr(
      s"transform(sequence(0, 7), i -> CAST(CASE WHEN i = vec_id % $mod " +
        "THEN 1.0 ELSE 0.0 END AS FLOAT))")
    spark.range(8).select(col("id").as("vec_id"))
      .select(col("vec_id"), oneHot(4).as("embedding"))
      .write.mode("overwrite")
      .parquet(s"$root/quickstart-33-corpus")
    run("quickstart-33-embedding-codebook.yaml")
    val cb = spark.read.parquet(s"$root/quickstart-33-codebook")
    cb.count() shouldBe 4
    cb.columns should contain allOf ("list_id", "vec", "cb_n_lists")
    // run N+1's increment: directions vec_id % 6 over ids 100..105 —
    // seeds 4,0,... : ids with direction 0..3 duplicate a whole history
    // family (cosine exactly 1, same cell under the shared codebook),
    // directions 4 and 5 are orthogonal to all of history and survive
    spark.range(100, 106).select(col("id").as("vec_id"))
      .select(col("vec_id"), oneHot(6).as("embedding"))
      .write.mode("overwrite")
      .parquet(s"$root/quickstart-33-increment")
    run("quickstart-33-incremental-semantic.yaml")
    // ids 100..105 have directions 4,5,0,1,2,3 → only 100/101 survive
    spark.read.parquet(s"$root/quickstart-33-out")
      .select("vec_id").as[Long].collect().sorted shouldBe
      Array(100L, 101L)
  }

  test("quickstart-32: media signatures persisted in run N, the crawl " +
    "increment dedups against them in run N+1 without re-parsing history") {
    import org.apache.spark.sql.functions._
    val png = udf((id: Long) =>
      graft.multimodal.Multimodal.syntheticImagePng(id % 4, 32, 24))
    // run N's corpus: reuse quickstart-28's staged shard (scenes 0..3)
    (0L until 12L).toDF("img_id")
      .select(col("img_id"), png(col("img_id")).as("payload"))
      .union(Seq((99L, "corrupted-bytes".getBytes("UTF-8")))
        .toDF("img_id", "payload"))
      .write.mode("overwrite")
      .parquet(s"$root/quickstart-28-images")
    run("quickstart-32-media-signatures.yaml")
    val sigs = spark.read.parquet(s"$root/quickstart-32-sigs")
    sigs.count() shouldBe 13
    sigs.where("sig IS NULL").count() shouldBe 1 // the corrupted payload
    // run N+1's increment: scenes 2..5 — 2 and 3 are in history, 4 and 5
    // are new (seed = id%6 over 100..105)
    val png6 = udf((id: Long) =>
      graft.multimodal.Multimodal.syntheticImagePng(id % 6, 32, 24))
    (100L until 106L).toDF("img_id")
      .select(col("img_id"), png6(col("img_id")).as("payload"))
      .write.mode("overwrite")
      .parquet(s"$root/quickstart-32-increment")
    run("quickstart-32-incremental-dedup.yaml")
    // ids 100..103 have seeds 4,5,0,1 → 102/103 drop (history scenes
    // 0/1), 104/105 seeds 2,3 drop (history scenes 2/3), 100/101 survive
    spark.read.parquet(s"$root/quickstart-32-out")
      .select("img_id").as[Long].collect().sorted shouldBe
      Array(100L, 101L)
  }

  test("quickstart-29: composed media curation — junk drops at the decode " +
    "gate, flat cards at the quality gate, near-dup scenes collapse") {
    import org.apache.spark.sql.functions._
    val png = udf((id: Long) =>
      graft.multimodal.Multimodal.syntheticImagePng(id % 4, 32, 24))
    // a zero-contrast flat card: decodable, but no curation pipeline
    // wants a solid color block
    val flat = {
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 32)
        img.setRGB(x, y, (128 << 16) | (128 << 8) | 128)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    (0L until 12L).toDF("img_id")
      .select(col("img_id"), png(col("img_id")).as("payload"))
      .union(Seq((97L, "corrupted-bytes".getBytes("UTF-8")), (98L, flat))
        .toDF("img_id", "payload"))
      .write.mode("overwrite")
      .parquet(s"$root/quickstart-29-media")
    run("quickstart-29-media-curation.yaml")
    val out = spark.read.parquet(s"$root/quickstart-29-out")
    // junk fails decodable (width = -1 sentinel), the flat card fails the
    // contrast gate, and each of the 4 scenes keeps its smallest id
    out.select("img_id").as[Long].collect().sorted shouldBe
      Array(0L, 1L, 2L, 3L)
  }

  test("quickstart-30: PQ codebooks persisted in run N, retrieval consumes " +
    "them in run N+1 without a sampling scan — self is rank 1, store " +
    "equals in-process training") {
    import org.apache.spark.sql.functions._
    run("quickstart-30-pq-store.yaml")
    val store = spark.read.parquet(s"$root/quickstart-30-pq")
    store.columns.toSeq should contain allOf ("subspace", "list_id", "vec",
      "pq_m", "pq_k", "pq_kmeans_iters", "pq_sub_dim", "pq_rows")
    store.count() shouldBe 64 // 4 subspaces x 16 centroids
    run("quickstart-30-pq-search.yaml")
    val out = spark.read.parquet(s"$root/quickstart-30-out")
    out.groupBy("query_id").count().select("count").as[Long].collect()
      .foreach(_ shouldBe 5L)
    out.where("rank = 1").select("query_id", "vec_id").as[(Long, Long)]
      .collect().foreach { case (q, v) => v shouldBe q }
    // the store IS the training run, persisted: identical to in-process
    // pqCodebooks with the same parameters
    val loaded = graft.ann.Ann.loadPqCodebooks(store)
    val direct = graft.ann.Ann.pqCodebooks(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", m = 4, k = 16, kmeansIters = 2)
    loaded.map(_.map(_.toSeq).toSeq).toSeq shouldBe
      direct.map(_.map(_.toSeq).toSeq).toSeq
  }

  test("quickstart-31: combined IVFADC store persisted in run N, retrieval " +
    "probes it in run N+1 without a sampling scan — self is rank 1, store " +
    "equals in-process training") {
    import org.apache.spark.sql.functions._
    run("quickstart-31-ivfpq-store.yaml")
    val store = spark.read.parquet(s"$root/quickstart-31-ivfpq")
    store.columns.toSeq should contain allOf ("part", "subspace", "list_id",
      "vec", "ivfpq_n_lists", "ivfpq_m", "ivfpq_k", "ivfpq_kmeans_iters",
      "ivfpq_sub_dim", "ivfpq_rows", "ivfpq_norm")
    store.where("part = 'ivf'").count() shouldBe 8
    store.where("part = 'pq'").count() shouldBe 64 // 4 subspaces x 16
    run("quickstart-31-ivfpq-search.yaml")
    val out = spark.read.parquet(s"$root/quickstart-31-out")
    out.groupBy("query_id").count().select("count").as[Long].collect()
      .foreach(_ shouldBe 5L)
    out.where("rank = 1").select("query_id", "vec_id").as[(Long, Long)]
      .collect().foreach { case (q, v) => v shouldBe q }
    // the store IS the training run, persisted: the loaded halves drive
    // the same search as inline training with the same parameters
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = emb.where("vec_id < 3")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val viaStore = graft.ann.Ann.ivfPqTopK(emb, q, "vec_id", "embedding",
      "query_id", 5, nProbe = 3,
      store = Some(graft.ann.Ann.loadIvfPqStore(store)))
      .as[(Long, Long, Long)].collect().toSet
    val inline = graft.ann.Ann.ivfPqTopK(emb, q, "vec_id", "embedding",
      "query_id", 5, nLists = 8, nProbe = 3, m = 4, nCentroids = 16,
      kmeansIters = 2).as[(Long, Long, Long)].collect().toSet
    viaStore shouldBe inline
  }

  test("every example YAML is exercised by this suite — a quickstart that " +
    "no test runs is documentation that can silently rot") {
    val yamls = new java.io.File("examples").listFiles()
      .filter(_.getName.endsWith(".yaml")).map(_.getName).sorted
    yamls should not be empty
    val src = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "src/test/scala/graft/examples/ExamplesSpec.scala"))
    val missing = yamls.filterNot(src.contains)
    withClue(s"add a test running: ${missing.mkString(", ")} — ") {
      missing shouldBe empty
    }
  }

  test("quickstart-3: declarative multi-source join partitioned by category") {
    val products = (1 to 20).map { i =>
      val cat = Seq("Electronics", "Clothing", "Books")(i % 3)
      s"""{"product_id": $i, "product_name": "Product $i", "category": "$cat"}"""
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/products-topic"),
      products.mkString("\n").getBytes)
    run("quickstart-3-multi-source-join.yaml")
    val out = spark.read.parquet(s"$root/quickstart-3-out")
    out.count() shouldBe spark.read.parquet("/root/testdata/sf0.001/orders.parquet").count()
    out.columns should contain allOf ("product_name", "order_month", "category")
    new java.io.File(s"$root/quickstart-3-out").listFiles()
      .map(_.getName).count(_.startsWith("category=")) shouldBe 3
  }
}
