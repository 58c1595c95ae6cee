package graft.ann

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class AnnSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic synthetic corpus: 200 vectors in 16 dims, clustered
  private lazy val corpus = {
    val rnd = new scala.util.Random(42)
    (0L until 200L).map { i =>
      val center = (i % 4).toInt
      val v = Array.tabulate(16)(d =>
        (if (d % 4 == center) 1.0f else 0.0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  test("brute-force top-k: a corpus vector's own nearest neighbor is itself") {
    val queries = corpus.where("vec_id IN (0, 1, 7)")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding", "query_id", 5)
    top.where("rank = 1").select("query_id", "vec_id").as[(Long, Long)].collect()
      .foreach { case (q, v) => v shouldBe q }
    top.groupBy("query_id").count().select("count").as[Long].collect()
      .foreach(_ shouldBe 5L)
  }

  test("brute-force top-k neighbors come from the query's own cluster") {
    val queries = corpus.where("vec_id = 0") // cluster 0
      .select(col("vec_id").as("query_id"), col("embedding"))
    val ids = Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding", "query_id", 10)
      .select("vec_id").as[Long].collect()
    all(ids.map(_ % 4)) shouldBe 0L
  }

  test("broadcast methods collect only (query id, vector): a wide payload " +
    "column never reaches the driver relation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val slim = corpus.where("vec_id IN (0, 1, 2, 3)")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val wide = slim.withColumn("payload", expr("repeat('x', 65536)"))
    val methods = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "brute" -> (q => Ann.bruteForceTopK(corpus, q, "vec_id", "embedding", "query_id", 5)),
      "lsh" -> (q => Ann.lshTopK(corpus, q, "vec_id", "embedding", "query_id", 5)),
      "ivf" -> (q => Ann.ivfTopK(corpus, q, "vec_id", "embedding", "query_id", 5,
        nLists = 8, nProbe = 8)))
    methods.foreach { case (name, run) =>
      val top = run(wide)
      val locals = top.queryExecution.analyzed.collect { case l: LocalRelation => l }
      withClue(name) {
        locals should not be empty
        locals.flatMap(_.output.map(_.name)) should not contain "payload"
        locals.flatMap(_.data).map(_.numFields).distinct shouldBe Seq(2)
        top.orderBy("query_id", "rank").collect() shouldBe
          run(slim).orderBy("query_id", "rank").collect()
      }
    }
  }

  test("LSH top-k achieves high recall vs brute force on clustered data") {
    val queries = corpus.where("vec_id IN (0, 1, 2, 3)")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding", "query_id", 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(corpus, queries, "vec_id", "embedding", "query_id", 10,
      bits = 6, tables = 6).select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    recall should be >= 0.7
  }

  test("IVF top-k achieves high recall vs brute force with nProbe < nLists") {
    val queries = corpus.where("vec_id IN (0, 1, 2, 3)")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding", "query_id", 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(corpus, queries, "vec_id", "embedding", "query_id", 10,
      nLists = 16, nProbe = 6).select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    recall should be >= 0.7
  }

  test("PQ top-k: twin recall is guaranteed, high recall vs brute force, " +
    "codebooks fail fast on a ragged split, tiny corpora fall back") {
    val queries = corpus.where("vec_id IN (0, 1, 2, 3)")
      .select(col("vec_id").as("query_id"), col("embedding"))
    // self is always rank 1 (its own code word minimizes every ADC term;
    // exact re-rank at cosine 1.0, id tie-break)
    val top = Ann.pqTopK(corpus, queries, "vec_id", "embedding", "query_id",
      10, m = 4, nCentroids = 8, kmeansIters = 2)
    top.where("rank = 1").select("query_id", "vec_id").as[(Long, Long)]
      .collect().foreach { case (q, v) => v shouldBe q }
    // ADC candidates + exact re-rank track brute force on clustered data
    val exact = Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding",
      "query_id", 10).select("query_id", "vec_id").as[(Long, Long)]
      .collect().toSet
    val approx = top.select("query_id", "vec_id").as[(Long, Long)]
      .collect().toSet
    (exact.intersect(approx).size.toDouble / exact.size) should be >= 0.7
    // an identical PLANTED twin attains the global-minimum ADC distance;
    // its recall is bounded only by quantization-cell ties, so the
    // candidate budget must cover the tie group (this corpus clusters ~51
    // vectors per family — candidateFactor 32 → 64 candidates ≥ any cell)
    val twins = corpus.where("vec_id < 4")
      .withColumn("vec_id", col("vec_id") + 1000L)
    val withTwins = Ann.pqTopK(corpus.unionByName(twins), queries,
      "vec_id", "embedding", "query_id", 2, m = 4, nCentroids = 8,
      kmeansIters = 2, candidateFactor = 32)
    withTwins.select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().sorted.toSeq shouldBe (0L until 4L).flatMap(q =>
        Seq((q, q, 1L), (q, q + 1000L, 2L)))
    // SPHERICAL contract: a POSITIVELY SCALED copy of the query (cosine 1,
    // huge raw L2 distance) normalizes to the query's unit vector, so it
    // encodes to the query's own code word and attains the global-minimum
    // ADC distance — raw-space PQ would never admit it to the candidates
    val scaled = corpus.where("vec_id < 4")
      .withColumn("vec_id", col("vec_id") + 2000L)
      .withColumn("embedding", transform(col("embedding"), x => x * 25.0f))
    val withScaled = Ann.pqTopK(corpus.unionByName(scaled), queries,
      "vec_id", "embedding", "query_id", 2, m = 4, nCentroids = 8,
      kmeansIters = 2, candidateFactor = 32)
    withScaled.select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().sorted.toSeq shouldBe (0L until 4L).flatMap(q =>
        Seq((q, q, 1L), (q, q + 2000L, 2L)))
    // dim 16 does not split into 5 subspaces — loud, not a torn quantizer
    the[IllegalArgumentException] thrownBy
      Ann.pqCodebooks(corpus, "vec_id", "embedding", m = 5) should
      have message ("requirement failed: pqCodebooks: vector dim 16 is " +
        "not divisible by m=5 subspaces")
    // STORE DRIFT fails loudly, never as an empty result: vectors whose
    // dim disagrees with the codebooks' m·subDim (the embedding space
    // changed since training — the pq_* stamps can't see the corpus side)
    def allMessages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + allMessages(t.getCause)
    val q8 = Seq((0L, Array.fill(8)(1.0f))).toDF("query_id", "embedding")
    allMessages(intercept[Exception] {
      Ann.pqTopK(corpus, q8, "vec_id", "embedding", "query_id", 2,
        m = 4, nCentroids = 8, kmeansIters = 0)
    }) should include ("quantize dim 16")
    val mixed = corpus.unionByName(
      Seq((9999L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding"))
    allMessages(intercept[Exception] {
      Ann.pqTopK(mixed, queries, "vec_id", "embedding", "query_id", 2,
        m = 4, nCentroids = 8, kmeansIters = 0).collect()
    }) should include ("quantize dim 16")
    // NaN-poisoned vectors drop at the CANDIDATE scan (topKPerQuery's NaN
    // contract) — they never burn candidate slots with a fake code-0 ADC
    val poisoned = corpus.unionByName(
      Seq((8888L, Array.fill(16)(Float.NaN))).toDF("vec_id", "embedding"))
    Ann.pqTopK(poisoned, queries, "vec_id", "embedding", "query_id", 10,
      m = 4, nCentroids = 8, kmeansIters = 2)
      .where("vec_id = 8888").count() shouldBe 0L
    // sub-2-row corpora degenerate to brute force, like IVF
    val tiny = Seq((1L, Array.fill(16)(1.0f))).toDF("vec_id", "embedding")
    Ann.pqTopK(tiny, queries, "vec_id", "embedding", "query_id", 1)
      .count() shouldBe 4L
    // encode + ADC scan are NATIVE plan nodes (codebooks/LUTs as reference
    // objects inside codegen), not a mapPartitions island: the plan names
    // them and carries no SerializeFromObject/DeserializeToObject pair.
    // Parquet-backed corpus, or ConvertToLocalRelation constant-folds the
    // encode away before the physical plan exists
    val planDir = tmpDir("pqplan")
    corpus.write.mode("overwrite").parquet(planDir)
    val plan = Ann.pqTopK(spark.read.parquet(planDir), queries,
      "vec_id", "embedding", "query_id", 2, m = 4, nCentroids = 8,
      kmeansIters = 1).queryExecution.executedPlan.toString
    plan should include ("pq_encode")
    plan should include ("pq_adc_neg")
    plan should not include "DeserializeToObject"
  }

  test("IVFADC (ivfpq): planted twins — identical AND positively scaled — " +
    "are recalled at ranks 1..2, recall tracks brute force, degenerate " +
    "corpora fall back, store round-trip matches inline training") {
    val queries = corpus.where("vec_id IN (0, 1, 2, 3)")
      .select(col("vec_id").as("query_id"), col("embedding"))
    // identical twin: assigns to the query's own (always probed) top-1
    // list with the query's residual → global-minimum ADC in the probed
    // set; exact re-rank orders (self, twin)
    val twins = corpus.where("vec_id < 4")
      .withColumn("vec_id", col("vec_id") + 1000L)
    val withTwins = Ann.ivfPqTopK(corpus.unionByName(twins), queries,
      "vec_id", "embedding", "query_id", 2, nLists = 8, nProbe = 2,
      m = 4, nCentroids = 8, kmeansIters = 2, candidateFactor = 32)
    withTwins.select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().sorted.toSeq shouldBe (0L until 4L).flatMap(q =>
        Seq((q, q, 1L), (q, q + 1000L, 2L)))
    // positively scaled twin: same unit vector → same list, same residual
    val scaled = corpus.where("vec_id < 4")
      .withColumn("vec_id", col("vec_id") + 2000L)
      .withColumn("embedding", transform(col("embedding"), x => x * 25.0f))
    Ann.ivfPqTopK(corpus.unionByName(scaled), queries,
      "vec_id", "embedding", "query_id", 2, nLists = 8, nProbe = 2,
      m = 4, nCentroids = 8, kmeansIters = 2, candidateFactor = 32)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().sorted.toSeq shouldBe (0L until 4L).flatMap(q =>
        Seq((q, q, 1L), (q, q + 2000L, 2L)))
    // recall vs brute force on the clustered corpus
    val exact = Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding",
      "query_id", 10).select("query_id", "vec_id").as[(Long, Long)]
      .collect().toSet
    val approx = Ann.ivfPqTopK(corpus, queries, "vec_id", "embedding",
      "query_id", 10, nLists = 8, nProbe = 4, m = 4, nCentroids = 8,
      kmeansIters = 2).select("query_id", "vec_id").as[(Long, Long)]
      .collect().toSet
    (exact.intersect(approx).size.toDouble / exact.size) should be >= 0.7
    // sub-2-row corpora degenerate to brute force
    val tiny = Seq((1L, Array.fill(16)(1.0f))).toDF("vec_id", "embedding")
    Ann.ivfPqTopK(tiny, queries, "vec_id", "embedding", "query_id", 1)
      .count() shouldBe 4L
    // combined store round-trip: loaded halves equal inline training,
    // and the searches match exactly
    val store = Ann.ivfPqStoreFrame(corpus, "vec_id", "embedding",
      nLists = 8, m = 4, nCentroids = 8, kmeansIters = 2)
    val (cents, cbs) = Ann.loadIvfPqStore(store)
    val viaStore = Ann.ivfPqTopK(corpus, queries, "vec_id", "embedding",
      "query_id", 5, nProbe = 2, store = Some((cents, cbs)))
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    val inline = Ann.ivfPqTopK(corpus, queries, "vec_id", "embedding",
      "query_id", 5, nLists = 8, nProbe = 2, m = 4, nCentroids = 8,
      kmeansIters = 2).select("query_id", "vec_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    viaStore shouldBe inline
    // PERSISTED CODES: the fully-persisted route (combined store + codes
    // frame) matches the store-driven search exactly; a codes frame
    // under a retrained quantizer fails the both-halves fingerprint
    val vcodes = Ann.ivfPqCodesFrame(corpus, "vec_id", "embedding",
      cents, cbs)
    Ann.ivfPqTopK(corpus, queries, "vec_id", "embedding", "query_id", 5,
      nProbe = 2, store = Some((cents, cbs)), codesStore = Some(vcodes))
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().toSet shouldBe viaStore
    val (rc, rcb) = Ann.loadIvfPqStore(Ann.ivfPqStoreFrame(
      corpus.where("vec_id >= 20"), "vec_id", "embedding",
      nLists = 8, m = 4, nCentroids = 8, kmeansIters = 2))
    (the[graft.api.ConfigException] thrownBy Ann.ivfPqTopK(corpus, queries,
      "vec_id", "embedding", "query_id", 5, store = Some((rc, rcb)),
      codesStore = Some(vcodes)).collect()).getMessage should
      include ("encoded under a DIFFERENT quantizer")
    (the[IllegalArgumentException] thrownBy Ann.ivfPqTopK(corpus, queries,
      "vec_id", "embedding", "query_id", 5,
      codesStore = Some(vcodes))).getMessage should
      include ("pass the loaded (centroids, codebooks) alongside it")
    // loud store failures: caller mismatch, lost rows, missing stamp,
    // foreign geometry version
    (the[graft.api.ConfigException] thrownBy
      Ann.loadIvfPqStore(store, wantNLists = Some(64))).getMessage should
      include ("trained with nLists=8 but the caller requests nLists=64")
    (the[graft.api.ConfigException] thrownBy Ann.loadIvfPqStore(
      store.where("NOT (part = 'pq' AND subspace = 2 AND list_id = 3)")))
      .getMessage should include ("rows were lost or duplicated")
    (the[graft.api.ConfigException] thrownBy
      Ann.loadIvfPqStore(store.drop("ivfpq_k"))).getMessage should
      include ("missing column(s) ivfpq_k")
    (the[graft.api.ConfigException] thrownBy Ann.loadIvfPqStore(
      store.withColumn("ivfpq_norm", lit(0)))).getMessage should
      include ("geometry version")
    // encode is ONE fused native node; the scan is pruned through the
    // broadcast probe-pair join (plan shows both)
    val planDir = tmpDir("ivfpqplan")
    corpus.write.mode("overwrite").parquet(planDir)
    val plan = Ann.ivfPqTopK(spark.read.parquet(planDir), queries,
      "vec_id", "embedding", "query_id", 2, nLists = 8, nProbe = 2,
      m = 4, nCentroids = 8, kmeansIters = 1)
      .queryExecution.executedPlan.toString
    plan should include ("ivfpq_encode")
    plan should include ("pq_adc_at")
    plan should not include "DeserializeToObject"
  }

  test("PQ codebook store: roundtrip parity with direct training, loud " +
    "stamp/row-count/grid failures on a corrupt or mismatched store") {
    val direct = Ann.pqCodebooks(corpus, "vec_id", "embedding",
      m = 4, k = 8, kmeansIters = 2)
    val store = Ann.pqCodebookFrame(corpus, "vec_id", "embedding",
      m = 4, k = 8, kmeansIters = 2)
    val loaded = Ann.loadPqCodebooks(store)
    loaded.map(_.map(_.toSeq).toSeq).toSeq shouldBe
      direct.map(_.map(_.toSeq).toSeq).toSeq
    // a caller asserting different training parameters fails fast
    (the[graft.api.ConfigException] thrownBy
      Ann.loadPqCodebooks(store, wantK = Some(16))).getMessage should
      include ("trained with k=8 but the caller requests k=16")
    // lost rows cannot pass the pq_rows check
    (the[graft.api.ConfigException] thrownBy Ann.loadPqCodebooks(
      store.where("NOT (subspace = 2 AND list_id = 3)"))).getMessage should
      include ("rows were lost or duplicated")
    // a stamp-less frame is not a store
    (the[graft.api.ConfigException] thrownBy
      Ann.loadPqCodebooks(store.drop("pq_k"))).getMessage should
      include ("missing stamp column(s) pq_k")
    // a store that predates the spherical-geometry stamp names the
    // rebuild path (its codebooks were trained in raw space)
    (the[graft.api.ConfigException] thrownBy
      Ann.loadPqCodebooks(store.drop("pq_norm"))).getMessage should
      include ("trained in RAW space")
    // a store from a DIFFERENT geometry version fails the load — it would
    // silently re-cell every vector under this engine's normalized encode
    (the[graft.api.ConfigException] thrownBy Ann.loadPqCodebooks(
      store.withColumn("pq_norm", lit(0)))).getMessage should
      include ("geometry version")
    // NaN-poisoned corpus vectors never enter PQ training: the codebooks
    // (and so the store) are identical with and without the poisoned row
    val poisonedCorpus = corpus.unionByName(
      Seq((7777L, Array.fill(16)(Float.NaN))).toDF("vec_id", "embedding"))
    Ann.pqCodebooks(poisonedCorpus, "vec_id", "embedding",
        m = 4, k = 8, kmeansIters = 2)
      .map(_.map(_.toSeq).toSeq).toSeq shouldBe
      direct.map(_.map(_.toSeq).toSeq).toSeq
    // PERSISTED CODES: searching through a pqCodesFrame store matches
    // the inline-encode search exactly, and a codes frame encoded under
    // a DIFFERENT codebook (same parameters, different floats) fails
    // the pq_cb_hash fingerprint instead of silently scanning garbage
    val codesStore = Ann.pqCodesFrame(corpus, "vec_id", "embedding", direct)
    val qs2 = corpus.where("vec_id IN (0, 1)")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val viaCodes = Ann.pqTopK(corpus, qs2, "vec_id", "embedding",
      "query_id", 5, codebooks = Some(direct),
      codesStore = Some(codesStore))
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    val inlineEnc = Ann.pqTopK(corpus, qs2, "vec_id", "embedding",
      "query_id", 5, codebooks = Some(direct))
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    viaCodes shouldBe inlineEnc
    val retrained = Ann.pqCodebooks(corpus.where("vec_id >= 20"),
      "vec_id", "embedding", m = 4, k = 8, kmeansIters = 2)
    (the[graft.api.ConfigException] thrownBy Ann.pqTopK(corpus, qs2,
      "vec_id", "embedding", "query_id", 5, codebooks = Some(retrained),
      codesStore = Some(codesStore)).collect()).getMessage should
      include ("encoded under a DIFFERENT codebook")
    // a codes store without its codebook is meaningless — rejected
    (the[IllegalArgumentException] thrownBy Ann.pqTopK(corpus, qs2,
      "vec_id", "embedding", "query_id", 5,
      codesStore = Some(codesStore))).getMessage should
      include ("pass the loaded codebooks alongside it")
    // the declarative route consumes the store (no sampling scan) and
    // matches the inline-trained search exactly
    import graft.config.TransformConfig
    import graft.api.RunContext
    val ctx = RunContext(spark, "ann", "t")
    store.createOrReplaceTempView("pq_store_spec")
    corpus.where("vec_id IN (0, 1)")
      .select(col("vec_id").as("query_id"), col("embedding"))
      .createOrReplaceTempView("pq_queries_spec")
    val viaStore = graft.operators.AnnTopKTransform(corpus,
      TransformConfig("a", "ann_topk", Map(
        "method" -> "pq", "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "queriesView" -> "pq_queries_spec", "queryIdColumn" -> "query_id",
        "k" -> "5", "codebookView" -> "pq_store_spec")), ctx)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    val inline = Ann.pqTopK(corpus,
      spark.table("pq_queries_spec"), "vec_id", "embedding", "query_id", 5,
      m = 4, nCentroids = 8, kmeansIters = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    viaStore shouldBe inline
    // a store stamped with different params than the options assert fails
    (the[graft.api.ConfigException] thrownBy graft.operators.AnnTopKTransform(
      corpus, TransformConfig("a", "ann_topk", Map(
        "method" -> "pq", "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "queriesView" -> "pq_queries_spec", "queryIdColumn" -> "query_id",
        "k" -> "5", "codebookView" -> "pq_store_spec",
        "nCentroids" -> "32")), ctx)).getMessage should
      include ("trained with nCentroids=8 but the caller requests " +
        "nCentroids=32")
  }

  test("k-means refinement: quantization cost drops, recall does not regress") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val vecs = corpus.select(col("embedding").cast("array<float>"))
      .collect().map(_.getSeq[Float](0).toArray)
    def cost(cents: Array[Array[Float]]): Double =
      vecs.map(v => 1.0 - cents.map(cos(v, _)).max).sum / vecs.length
    val base = Ann.kmeansCentroids(corpus, "vec_id", "embedding", nLists = 8, iters = 0)
    val refined = Ann.kmeansCentroids(corpus, "vec_id", "embedding", nLists = 8, iters = 3)
    // Lloyd monotonicity: average 1-cos to the nearest centroid decreases
    cost(refined) should be < cost(base)
    // refined centroids are unit length (spherical k-means invariant)
    refined.foreach { c =>
      math.sqrt(c.map(x => x.toDouble * x).sum) shouldBe 1.0 +- 1e-5
    }
    // refinement does not hurt end-to-end IVF recall at the same probes
    val queries = corpus.where("vec_id IN (0, 1, 2, 3)")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding", "query_id", 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(iters: Int) = {
      val got = Ann.ivfTopK(corpus, queries, "vec_id", "embedding", "query_id", 10,
        nLists = 8, nProbe = 2, kmeansIters = iters)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    recall(3) should be >= recall(0)
  }

  test("k-means refinement: empty lists keep their centroid, tiny corpora stable") {
    // nLists far above the corpus size → most lists never get members
    val tiny = corpus.where("vec_id < 3")
    val cents = Ann.kmeansCentroids(tiny, "vec_id", "embedding", nLists = 3, iters = 3)
    cents.length shouldBe 3
    cents.foreach(_.foreach { x =>
      java.lang.Float.isNaN(x) shouldBe false
    })
    // iters = 0 returns the raw hash sample unchanged
    Ann.kmeansCentroids(tiny, "vec_id", "embedding", nLists = 3, iters = 0)
      .length shouldBe 3
  }

  test("top-k plan shape: partial bounded-heap aggregate, no global window sort") {
    // the scale contract from round-1 review: no row_number() window over
    // the full scored frame (it funnels the corpus into |queries| tasks).
    // The two-phase form plans as ObjectHashAggregate(partial) → exchange →
    // ObjectHashAggregate(final): assert no Window node and a partial
    // object-hash aggregate before any exchange.
    val queries = corpus.where("vec_id IN (0, 1)")
      .select(col("vec_id").as("query_id"), col("embedding"))
    for (df <- Seq(
        Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding", "query_id", 5),
        Ann.lshTopK(corpus, queries, "vec_id", "embedding", "query_id", 5, bits = 6, tables = 2),
        Ann.ivfTopK(corpus, queries, "vec_id", "embedding", "query_id", 5, nLists = 8, nProbe = 3))) {
      val plan = df.queryExecution.executedPlan.toString
      plan should not include "Window"
      plan should include("ObjectHashAggregate")
    }
  }

  test("IVF centroid assignment is a projection: no Exchange between scan and list_id") {
    // the corpus→list assignment must not shuffle (old shape crossJoined
    // nLists centroids then window-argmaxed: a 64× row blowup + exchange).
    // With literal centroids the only exchanges left are the candidate join
    // and the final top-k merge, both AFTER assignment. Count exchanges on
    // the corpus side: the assigned frame alone must plan with zero.
    val queries = corpus.where("vec_id = 0")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val df = Ann.ivfTopK(corpus, queries, "vec_id", "embedding", "query_id", 5,
      nLists = 8, nProbe = 8)
    // the only hash-partitioned exchange left is the final top-k merge: the
    // probe join is broadcast and the assignment is projection-only
    val shuffles = "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
    shuffles should be <= 1
    // nProbe = nLists → results must equal brute force exactly (sanity that
    // the projection argmax + probe path is correct, not just shaped right)
    val exact = Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding", "query_id", 5)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    df.select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet shouldBe exact
  }

  test("TopKAggregator: deterministic under permutation and trimming, ties by id") {
    val agg = new TopKAggregator(3)
    val items = Seq(
      ScoredCandidate(0.9, 7), ScoredCandidate(0.9, 2), ScoredCandidate(0.5, 1),
      ScoredCandidate(0.99, 9), ScoredCandidate(0.1, 3)) ++
      (100L until 400L).map(i => ScoredCandidate(0.05, i))
    def run(xs: Seq[ScoredCandidate]) = {
      val (b1, b2) = xs.splitAt(xs.size / 3)
      agg.finish(agg.merge(
        b1.foldLeft(agg.zero)(agg.reduce),
        b2.foldLeft(agg.zero)(agg.reduce))).items
    }
    val expected = Seq(ScoredCandidate(0.99, 9), ScoredCandidate(0.9, 2), ScoredCandidate(0.9, 7))
    run(items) shouldBe expected
    run(scala.util.Random.shuffle(items)) shouldBe expected
  }

  test("string ids get the partial-aggregate top-k path (no window), type preserved") {
    val named = corpus.select(concat(lit("doc-"), col("vec_id")).as("vec_id"), col("embedding"))
    val queries = named.where("vec_id = 'doc-0'")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = Ann.bruteForceTopK(named, queries, "vec_id", "embedding", "query_id", 5)
    val plan = top.queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("ObjectHashAggregate")
    top.schema("vec_id").dataType.typeName shouldBe "string"
    top.where("rank = 1").select("vec_id").as[String].head() shouldBe "doc-0"
    top.count() shouldBe 5
    // ranking parity with the window form it replaced
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    val expected = named.select(col("vec_id"), col("embedding").as("cvec"))
      .crossJoin(queries.select(col("query_id"), col("embedding").as("qvec")))
      .withColumn("sim", graft.functions.expressions.CosineSimilarity(col("cvec"), col("qvec")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("query_id", "vec_id", "rank").as[(String, String, Int)].collect().toSet
    top.select("query_id", "vec_id", "rank").as[(String, String, Int)].collect().toSet shouldBe expected
  }

  test("decimal ids densify to the partial-aggregate path (no window), type preserved") {
    val named = corpus.select(
      (col("vec_id").cast("decimal(12,2)") / 4).cast("decimal(12,2)").as("vec_id"),
      col("embedding"))
    val queries = named.limit(1)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = Ann.bruteForceTopK(named, queries, "vec_id", "embedding", "query_id", 5)
    val plan = top.queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("ObjectHashAggregate")
    top.schema("vec_id").dataType.typeName shouldBe "decimal(12,2)"
    top.count() shouldBe 5
    // ranking parity with the window form the surrogate path replaced
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    val expected = named.select(col("vec_id"), col("embedding").as("cvec"))
      .crossJoin(queries.select(col("query_id"), col("embedding").as("qvec")))
      .withColumn("sim", graft.functions.expressions.CosineSimilarity(col("cvec"), col("qvec")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("query_id", "vec_id", "rank")
      .as[(java.math.BigDecimal, java.math.BigDecimal, Int)].collect().toSet
    top.select("query_id", "vec_id", "rank")
      .as[(java.math.BigDecimal, java.math.BigDecimal, Int)].collect().toSet shouldBe expected
  }

  test("null embeddings are excluded from top-k instead of aborting the aggregator") {
    val withNull = corpus.union(
      spark.range(1).select(lit(777L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
    val queries = corpus.where("vec_id = 0")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = Ann.bruteForceTopK(withNull, queries, "vec_id", "embedding", "query_id", 5)
    top.count() shouldBe 5
    top.where("vec_id = 777").count() shouldBe 0
  }

  test("ArgTopCentroids matches the literal greatest/sort_array form, one plan node") {
    import graft.functions.expressions.{ArgTopCentroids, CosineSimilarity}
    val rnd = new scala.util.Random(31)
    val centroids = Array.fill(16)(Array.fill(8)(rnd.nextFloat() - 0.5f))
    val vecs = (0 until 200).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("id", "v")
    // the replaced composed form: nLists literal-array cosines + struct argmax
    def centroidSims(vec: org.apache.spark.sql.Column) =
      centroids.toSeq.map(cv => CosineSimilarity(vec, typedlit(cv.toSeq)))
    val nearestLiteral = {
      val ranked = centroidSims(col("v")).zipWithIndex.map { case (s, i) =>
        struct(s.as("s"), lit(-i).as("ni")) }
      -greatest(ranked: _*).getField("ni")
    }
    val probesLiteral = {
      val ranked = centroidSims(col("v")).zipWithIndex.map { case (s, i) =>
        struct((-s).as("ns"), lit(i).as("list_id")) }
      slice(sort_array(array(ranked: _*)), 1, 4).getField("list_id")
    }
    val both = vecs.select(col("id"),
      ArgTopCentroids(col("v"), centroids, 1).getItem(0).as("fusedNearest"),
      nearestLiteral.as("litNearest"),
      ArgTopCentroids(col("v"), centroids, 4).as("fusedProbes"),
      probesLiteral.as("litProbes")).collect()
    both.foreach { r =>
      r.getInt(1) shouldBe r.getInt(2)
      r.getSeq[Int](3) shouldBe r.getSeq[Int](4)
    }
    // fused: one node, no plan literals; codegen'd projection (parquet-backed
    // scan — a LocalRelation would constant-fold the whole projection away)
    val dir = tmpDir("atc")
    vecs.write.mode("overwrite").parquet(dir)
    val fusedPlan = spark.read.parquet(dir)
      .select(ArgTopCentroids(col("v"), centroids, 4).as("p"))
      .queryExecution.executedPlan.toString
    fusedPlan.toLowerCase should include("argtopcentroids")
    fusedPlan should include regex """\*\(\d+\) Project"""
    fusedPlan.length should be < 4000
  }

  test("ArgTopCentroids: null element or codebook-dim mismatch yields a " +
    "null assignment instead of a silent prefix score") {
    import graft.functions.expressions.ArgTopCentroids
    val centroids = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f))
    val dir = tmpDir("atc-dirty")
    Seq(
      (1L, Seq[Option[Float]](Some(1f), None, Some(0f))),   // null element
      (2L, Seq[Option[Float]](Some(1f), Some(0f))),          // dim 2 != 3
      (3L, Seq[Option[Float]](Some(0f), Some(1f), Some(0f))))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val out = spark.read.parquet(dir)
      .select(col("id"), ArgTopCentroids(col("v"), centroids, 1).as("a"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    out(1L) shouldBe null
    out(2L) shouldBe null
    out(3L) shouldBe Seq(1)
  }

  test("codebook sampling excludes vectors with null elements (never baked " +
    "into centroids as 0.0f); mixed-dim corpora refine without crashing") {
    val dir = tmpDir("cb-dirty")
    // 4 clean 3-dim vectors, middle component never 0, plus one null-slot row
    (Seq((1L, Seq[Option[Float]](Some(1f), Some(2f), Some(1f))),
         (2L, Seq[Option[Float]](Some(2f), Some(1f), Some(2f))),
         (3L, Seq[Option[Float]](Some(1f), Some(3f), Some(2f))),
         (4L, Seq[Option[Float]](Some(3f), Some(1f), Some(1f))),
         (9L, Seq[Option[Float]](Some(5f), None, Some(5f)))))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val cents = Ann.kmeansCentroids(spark.read.parquet(dir), "id", "v",
      nLists = 10, iters = 0)
    cents.length shouldBe 4 // the null-slot vector is not sampled
    all(cents.map(_.apply(1))) should not be 0f
    // a short vector among full-dim ones: Lloyd excludes it from
    // assignment (as the distributed projection would) instead of
    // prefix-scoring it into a centroid
    val mixed = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f)), (4L, Array(0f, 0.9f, 0.1f)),
      (9L, Array(1f, 1f))).toDF("id", "v")
    noException should be thrownBy
      Ann.kmeansCentroids(mixed, "id", "v", nLists = 2, iters = 3)
  }

  test("empty and single-row corpora build and return gracefully") {
    val queries = corpus.where("vec_id = 0")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val empty = corpus.where("vec_id < 0")
    Ann.lshTopK(empty, queries, "vec_id", "embedding", "query_id", 5).count() shouldBe 0
    Ann.cosineNearDups(empty, "vec_id", "embedding", 0.9).count() shouldBe 0
    Ann.ivfTopK(empty, queries, "vec_id", "embedding", "query_id", 5).count() shouldBe 0
    val one = corpus.where("vec_id = 0")
    Ann.ivfTopK(one, queries, "vec_id", "embedding", "query_id", 5)
      .select("vec_id").as[Long].collect() shouldBe Array(0L)
  }

  test("cosine near-dup pairs: duplicated vectors found with sim 1.0") {
    val withDup = corpus.union(
      corpus.where("vec_id = 5").select(lit(999L).as("vec_id"), col("embedding")))
    val pairs = Ann.cosineNearDups(withDup, "vec_id", "embedding",
      threshold = 0.999, bits = 6, tables = 6)
    pairs.where("id_a = 5 AND id_b = 999").count() shouldBe 1
  }

  test("cosine near-dup maxBucketSize caps mega-buckets: no quadratic pair explosion") {
    // adversarial corpus: 500 IDENTICAL embeddings — every table hashes them
    // all into one bucket, so an uncapped self-join would produce
    // 500*499/2 ≈ 125k verification pairs (the 100 TB boilerplate hazard).
    val same = Array.tabulate(16)(_.toFloat / 16f)
    val clones = spark.range(500).select(col("id").as("vec_id"), typedlit(same).as("embedding"))
    val capped = Ann.cosineNearDups(clones, "vec_id", "embedding",
      threshold = 0.9, bits = 6, tables = 4, maxBucketSize = 100)
    capped.count() shouldBe 0 // every bucket holds 500 > 100 → all capped away
    // with the cap above the bucket size, the full pair set comes back
    val uncapped = Ann.cosineNearDups(clones.limit(20), "vec_id", "embedding",
      threshold = 0.9, bits = 6, tables = 4, maxBucketSize = 1000)
    uncapped.count() shouldBe (20L * 19 / 2)
  }

  test("incremental cosine near-dup: twin vs reference drops, orthogonal survives, re-ingested id self-pairs") {
    // reference = 3 orthogonal one-hots; increment = an identical twin of
    // ref 0 (must hit: identical vectors share every hyperplane bucket),
    // an orthogonal vector (must miss), and ref 1 re-ingested under its
    // OWN id (must hit its stored copy — the replayed-increment contract)
    val ref = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f))).toDF("ref_id", "vec")
    val inc = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),
      (101L, Array(0f, 0f, 0f, 1f)),
      (1L, Array(0f, 1f, 0f, 0f))).toDF("id", "vec")
    val hits = Ann.cosineNearDupsAgainst(inc, ref, "id", "vec", "ref_id", "vec",
      threshold = 0.95, bits = 6, tables = 6)
      .select("id", "ref_id").as[(Long, Long)].collect().toSet
    hits should contain ((100L, 0L))
    hits should contain ((1L, 1L))
    hits.map(_._1) should not contain 101L
  }

  test("incremental cosine near-dup: per-side bucket caps block mega-buckets loudly, not quadratically") {
    val same = Array.tabulate(8)(_.toFloat / 8f)
    val ref = spark.range(300).select(col("id").as("ref_id"), typedlit(same).as("vec"))
    val inc = spark.range(5).select((col("id") + 1000L).as("id"), typedlit(same).as("vec"))
    // the reference side's bucket (300 identical rows) exceeds the cap →
    // no pairs at all; with a generous cap every (inc, ref) pair verifies
    Ann.cosineNearDupsAgainst(inc, ref, "id", "vec", "ref_id", "vec",
      threshold = 0.9, bits = 6, tables = 4, maxBucketSize = 100)
      .count() shouldBe 0
    Ann.cosineNearDupsAgainst(inc, ref.limit(20), "id", "vec", "ref_id", "vec",
      threshold = 0.9, bits = 6, tables = 4, maxBucketSize = 1000)
      .count() shouldBe (5L * 20)
  }

  test("incremental semantic near-dup: one codebook assigns both sides; twin drops, orthogonal survives") {
    val ref = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f))).toDF("ref_id", "vec")
    val inc = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),
      (101L, Array(0f, 0f, 0f, 1f))).toDF("id", "vec")
    val hits = Ann.semanticNearDupsAgainst(inc, ref, "id", "vec", "ref_id", "vec",
      threshold = 0.95, nClusters = 3, kmeansIters = 2)
      .select("id", "ref_id").as[(Long, Long)].collect().toSet
    hits should contain ((100L, 0L))
    hits.map(_._1) should not contain 101L
    // a persisted-codebook route (the incremental production shape) finds
    // the same hits — cells from the store, no reference sampling scan
    val store = Ann.codebookFrame(ref, "ref_id", "vec", nLists = 3, kmeansIters = 2)
    val viaStore = Ann.semanticNearDupsAgainst(inc, ref, "id", "vec", "ref_id", "vec",
      threshold = 0.95, nClusters = 3, kmeansIters = 2,
      codebook = Some(Ann.loadCodebook(store, Some(3), Some(2))))
      .select("id", "ref_id").as[(Long, Long)].collect().toSet
    viaStore shouldBe hits
  }

  test("int8 quantization: values in [-127,127], round-trip error <= scale/2, zero-vector safe") {
    import graft.functions.VectorFunctions._
    val withZero = corpus.unionByName(
      Seq((999L, Array.fill(16)(0.0f))).toDF("vec_id", "embedding"))
    val q = withZero
      .withColumn("scale", int8Scale(col("embedding")))
      .withColumn("q", quantizeInt8(col("embedding"), col("scale")))
      .withColumn("back", dequantizeInt8(col("q"), col("scale")))
    q.select(array_min(col("q")), array_max(col("q"))).as[(Int, Int)].collect()
      .foreach { case (lo, hi) => lo should be >= -127; hi should be <= 127 }
    // per-element reconstruction error bounded by half a quantization step
    val worst = q.select(max(aggregate(
      zip_with(col("embedding"), col("back"), (a, b) => abs(a.cast("double") - b)),
      lit(0.0), (acc, v) => greatest(acc, v)) / col("scale"))).as[Double].head()
    worst should be <= 0.5 + 1e-9
    q.where("vec_id = 999").select(col("scale")).as[Double].head() shouldBe 1.0
  }

  test("maxQueries cap: every ANN method throws the guided error at cap+1 " +
      "and succeeds at cap") {
    // 6 queries; cap 5 must throw, cap 6 must succeed with identical
    // results to the uncapped call (the cap must never change results)
    val queries = corpus.where("vec_id < 6")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val runs: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "bruteForceTopK" -> (cap => Ann.bruteForceTopK(
        corpus, queries, "vec_id", "embedding", "query_id", 3,
        maxQueries = cap)),
      "lshTopK" -> (cap => Ann.lshTopK(
        corpus, queries, "vec_id", "embedding", "query_id", 3,
        bits = 6, tables = 2, maxQueries = cap)),
      "ivfTopK" -> (cap => Ann.ivfTopK(
        corpus, queries, "vec_id", "embedding", "query_id", 3,
        nLists = 8, nProbe = 4, maxQueries = cap)),
      "pqTopK" -> (cap => Ann.pqTopK(
        corpus, queries, "vec_id", "embedding", "query_id", 3,
        m = 4, nCentroids = 8, maxQueries = cap)),
      "ivfPqTopK" -> (cap => Ann.ivfPqTopK(
        corpus, queries, "vec_id", "embedding", "query_id", 3,
        nLists = 4, nProbe = 2, m = 4, nCentroids = 8, maxQueries = cap)))
    runs.foreach { case (name, run) =>
      withClue(s"$name at cap+1: ") {
        val e = intercept[graft.api.ConfigException](run(5).collect())
        e.getMessage should include ("maxQueries=5")
        e.getMessage should include (name)
        e.getMessage should include ("Batch the queries")
      }
      withClue(s"$name at cap: ") {
        val capped = run(6).orderBy("query_id", "rank")
          .collect().map(_.toString)
        val free = run(Ann.DefaultMaxQueries).orderBy("query_id", "rank")
          .collect().map(_.toString)
        capped should contain theSameElementsInOrderAs free
      }
    }
  }

  test("maxQueries cap: ivfTopKWithCodebook enforces it too, and the " +
      "degenerate brute fallback inherits the caller's cap") {
    val queries = corpus.where("vec_id < 6")
      .select(col("vec_id").as("query_id"), col("embedding"))
    val store = Ann.codebookFrame(corpus, "vec_id", "embedding",
      nLists = 8, kmeansIters = 0)
    val e = intercept[graft.api.ConfigException] {
      Ann.ivfTopKWithCodebook(corpus, queries, "vec_id", "embedding",
        "query_id", 3, store, maxQueries = 5).collect()
    }
    e.getMessage should include ("ivfTopKWithCodebook")
    e.getMessage should include ("maxQueries=5")
    // degenerate PQ corpus (1 row -> single-centroid codebooks) falls back
    // to brute force -- the cap must survive the fallback
    val tiny = corpus.where("vec_id = 0")
    val e2 = intercept[graft.api.ConfigException] {
      Ann.pqTopK(tiny, queries, "vec_id", "embedding", "query_id", 1,
        m = 4, nCentroids = 8, maxQueries = 5).collect()
    }
    e2.getMessage should include ("maxQueries=5")
    // a nonsensical cap is rejected up front
    intercept[IllegalArgumentException] {
      Ann.bruteForceTopK(corpus, queries, "vec_id", "embedding",
        "query_id", 3, maxQueries = 0)
    }
  }
}
