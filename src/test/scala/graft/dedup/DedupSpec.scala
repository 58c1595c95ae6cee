package graft.dedup

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while the sun " +
    "shines bright and the river runs cold through the green valley below the hills"
  // near-dup: one word changed; far: unrelated text
  private val nearDup = base.replace("green valley", "wide valley")
  private val unrelated = "completely different content about spark query engines " +
    "processing massive distributed datasets with columnar storage and vectorized execution"

  private lazy val docs = Seq(
    (1L, base), (2L, nearDup), (3L, unrelated), (4L, base), (5L, "")
  ).toDF("doc_id", "text")

  test("exact dedup: identical texts collapse to lowest id") {
    val out = Dedup.exact(docs, "doc_id", "text")
    out.where("n_copies = 2").select("doc_id").as[Long].collect() shouldBe Array(1L)
    out.count() shouldBe 4 // base, nearDup, unrelated, ""
  }

  test("minhash LSH finds planted near-dup and exact-dup pairs, not unrelated ones") {
    val pairs = Dedup.minhashNearDups(docs.where("doc_id <= 4"), "doc_id", "text",
      bands = 16, rowsPerBand = 4, shingleSize = 3, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs should contain((1L, 4L)) // exact copies
    pairs should contain((1L, 2L)) // near dup
    pairs should not contain ((1L, 3L))
    pairs should not contain ((2L, 3L))
  }

  test("dedup_minhash / dedup_simhash transforms drop the higher-id side of each pair") {
    import graft.config.TransformConfig
    import graft.api.RunContext
    val ctx = RunContext(spark, "t", "r")
    val mh = graft.operators.MinhashDedupTransform(docs,
      TransformConfig("nd", "dedup_minhash", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text", "threshold" -> "0.4")), ctx)
    val mhIds = mh.select("doc_id").as[Long].collect().toSet
    mhIds should contain(1L)            // survivor of {1,2,4} chain
    mhIds should not contain 4L         // exact copy of 1 dropped
    mhIds should not contain 2L         // near dup of 1 dropped
    mhIds should contain allOf (3L, 5L) // unrelated + empty untouched
    val sh = graft.operators.SimhashDedupTransform(docs,
      TransformConfig("nd2", "dedup_simhash", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text", "maxHamming" -> "3")), ctx)
    val shIds = sh.select("doc_id").as[Long].collect().toSet
    shIds should contain(1L)
    shIds should not contain 4L
    an[graft.api.ConfigException] should be thrownBy graft.operators.MinhashDedupTransform(
      docs, TransformConfig("bad", "dedup_minhash", Map.empty), ctx)
  }

  test("dedup_embedding transform drops planted exact-copy vectors, keeps originals") {
    import graft.config.TransformConfig
    import graft.api.RunContext
    val ctx = RunContext(spark, "t", "r")
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(16)(rnd.nextFloat() * 2f - 1f)
    val originals = (0L until 40L).map(i => (i, vec()))
    // ids 1000+i are exact copies of vectors 0..4 → sim 1.0, higher id drops
    val copies = originals.take(5).map { case (i, v) => (1000L + i, v) }
    val df = (originals ++ copies).toDF("vec_id", "embedding")
    val out = graft.operators.EmbeddingDedupTransform(df,
      TransformConfig("ed", "dedup_embedding", Map(
        "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "threshold" -> "0.99", "bits" -> "10", "tables" -> "8")), ctx)
    val kept = out.select("vec_id").as[Long].collect().toSet
    (1000L until 1005L).foreach(kept should not contain _) // copies dropped
    (0L until 5L).foreach(kept should contain(_))          // originals kept
    an[graft.api.ConfigException] should be thrownBy graft.operators.EmbeddingDedupTransform(
      df, TransformConfig("bad", "dedup_embedding", Map("idColumn" -> "vec_id")), ctx)
  }

  test("minhash jaccard for exact copies is 1.0") {
    Dedup.minhashNearDups(docs.where("doc_id IN (1, 4)"), "doc_id", "text")
      .select("jaccard").as[Double].collect() shouldBe Array(1.0)
  }

  test("simhash: near-dups within small hamming distance; unrelated far") {
    val out = Dedup.simhashNearDups(docs.where("doc_id <= 4"), "doc_id", "text", maxHamming = 8)
    val pairs = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs should contain((1L, 4L))
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
    out.where("id_a = 1 AND id_b = 4").select("hamming").as[Int].head() shouldBe 0
  }

  test("ngram jaccard column: identity 1.0, disjoint 0.0, near-dup in between") {
    val df = Seq((base, base, "same"), (base, unrelated, "diff"), (base, nearDup, "near"))
      .toDF("a", "b", "tag")
      .select(col("tag"), Dedup.ngramJaccard(col("a"), col("b"), 3).as("j"))
    val m = df.as[(String, Double)].collect().toMap
    m("same") shouldBe 1.0
    m("diff") shouldBe 0.0
    m("near") should (be > 0.5 and be < 1.0)
  }

  test("contaminationHits: shared benchmark 3-grams found via broadcast, clean docs absent") {
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "prefix words then alpha beta gamma delta continues"), // 2 shared 3-grams
      (11L, "totally different content about nothing shared here"),
      (12L, "alpha beta gamma")) // exactly one shared shingle
      .toDF("doc_id", "text")
    val hits = Dedup.contaminationHits(corpus, bench, "doc_id", "text", "text")
    val m = hits.as[(Long, Long)].collect().toMap
    m.keySet shouldBe Set(10L, 12L)
    m(10L) shouldBe 2L // "alpha beta gamma", "beta gamma delta"
    m(12L) shouldBe 1L
    // corpus is never shuffled for the join: benchmark side broadcasts
    hits.queryExecution.executedPlan.toString should include ("BroadcastHashJoin")
  }

  test("LSH bucket cap drops pathological mega-buckets instead of exploding") {
    // 60 identical docs → one bucket of 60 > cap 10 → no pairs, no blow-up
    val many = (1L to 60L).map(i => (i, base)).toDF("doc_id", "text")
    Dedup.minhashNearDups(many, "doc_id", "text", maxBucketSize = 10).count() shouldBe 0
  }

  test("decontaminate transform drops docs sharing benchmark shingles via named view") {
    import graft.config.TransformConfig
    import graft.api.RunContext
    val ctx = RunContext(spark, "t", "r")
    Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
      .createOrReplaceTempView("bench_set")
    val corpus = Seq(
      (10L, "prefix words then alpha beta gamma delta continues"),
      (11L, "totally different content about nothing shared here"),
      (12L, "alpha beta gamma")).toDF("doc_id", "text")
    val out = graft.operators.DecontaminateTransform(corpus,
      TransformConfig("dc", "decontaminate", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "benchDataset" -> "bench_set")), ctx)
    out.select("doc_id").as[Long].collect().toSet shouldBe Set(11L)
    an[graft.api.ConfigException] should be thrownBy graft.operators.DecontaminateTransform(
      corpus, TransformConfig("bad", "decontaminate", Map.empty), ctx)

    // bloom method: same planted outcome, but the corpus side is a pure
    // zero-join codegen'd filter over the broadcast-free fixed-size sketch
    // a parquet round-trip keeps the predicate in the physical plan (over
    // a LocalRelation the optimizer constant-folds the whole filter away)
    val pdir = tmpDir("bloomdc")
    corpus.write.mode("overwrite").parquet(pdir)
    val bloomOut = graft.operators.DecontaminateTransform(spark.read.parquet(pdir),
      TransformConfig("dc", "decontaminate", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "benchDataset" -> "bench_set", "method" -> "bloom", "fpp" -> "0.000001")), ctx)
    bloomOut.select("doc_id").as[Long].collect().toSet shouldBe Set(11L)
    val plan = bloomOut.queryExecution.executedPlan.toString
    plan should not include "Join" // zero-join corpus filter
    plan should include ("might_contain")
    // null-text docs are kept, matching the exact path
    val withNull = corpus.union(Seq((13L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    graft.operators.DecontaminateTransform(withNull,
      TransformConfig("dc", "decontaminate", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "benchDataset" -> "bench_set", "method" -> "bloom")), ctx)
      .select("doc_id").as[Long].collect().toSet shouldBe Set(11L, 13L)
    an[graft.api.ConfigException] should be thrownBy graft.operators.DecontaminateTransform(
      corpus, TransformConfig("dc", "decontaminate", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "benchDataset" -> "bench_set", "method" -> "exactly")), ctx)
  }

  test("decontaminate exact: contaminated null-id docs are dropped (the id " +
    "anti-join alone would leak them), clean null-id docs kept") {
    import graft.config.TransformConfig
    import graft.api.RunContext
    val ctx = RunContext(spark, "t", "r")
    Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
      .createOrReplaceTempView("bench_set_null")
    val corpus = Seq(
      (Some(10L), "prefix words then alpha beta gamma delta continues"), // hit, keyed
      (None, "more words around alpha beta gamma delta here"),           // hit, null id
      (None, "totally different content about nothing shared at all"),   // clean, null id
      (Some(11L), "also completely unrelated clean text rows")           // clean, keyed
    ).toDF("doc_id", "text")
    val out = graft.operators.DecontaminateTransform(corpus,
      TransformConfig("dc", "decontaminate", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "benchDataset" -> "bench_set_null")), ctx)
    out.count() shouldBe 2
    out.select("doc_id").as[Option[Long]].collect().toSet shouldBe Set(Some(11L), None)
    out.where("doc_id IS NULL").select("text").as[String].head() should include ("nothing shared")
    // a null-id null-text row has no shingles → clean, kept
    val withNullText = corpus.union(
      Seq((None: Option[Long], None: Option[String])).toDF("doc_id", "text"))
    graft.operators.DecontaminateTransform(withNullText,
      TransformConfig("dc", "decontaminate", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "benchDataset" -> "bench_set_null")), ctx).count() shouldBe 3
    // fpp is bloom-only: with method exact it is a misconfiguration
    an[graft.api.ConfigException] should be thrownBy graft.operators.DecontaminateTransform(
      corpus, TransformConfig("dc", "decontaminate", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "benchDataset" -> "bench_set_null", "fpp" -> "1e-6")), ctx)
  }

  test("minhash verification thresholds the RAW jaccard: a pair whose " +
    "rounded value reaches the threshold but raw value does not is rejected") {
    // B's 2 shingles are a strict subset of A's 3 → jaccard = 2/3 exactly;
    // round(2/3, 4) = 0.6667 > 2/3, so a 0.6667 threshold must REJECT the
    // pair (the old rounded-value filter admitted it)
    val pair = Seq((1L, "a b c d e"), (2L, "a b c d")).toDF("doc_id", "text")
    def run(t: Double) =
      Dedup.minhashNearDups(pair, "doc_id", "text",
        bands = 64, rowsPerBand = 1, shingleSize = 3, threshold = t).count()
    run(0.6) shouldBe 1L      // candidates collide and raw 0.6667 >= 0.6
    run(2.0 / 3.0) shouldBe 1L // raw value exactly at threshold passes
    run(0.6667) shouldBe 0L   // rounded 0.6667 but raw 0.66667 < 0.6667
  }

  test("simhash: maxHamming outside [0,15] rejected; null-text rows never " +
    "enter the chunk join; maxHamming=0 pairs exact signature matches only") {
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 16)
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = -1)
    val withNullText = docs.union(
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val out = Dedup.simhashNearDups(withNullText, "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    out shouldBe Set((1L, 4L)) // the exact copies; null-text row pairs with nothing
  }

  test("dedup transforms report a typo'd column at validate time, not as a " +
    "runtime AnalysisException") {
    import graft.config.TransformConfig
    val schema = docs.schema
    graft.operators.MinhashDedupTransform.validate(TransformConfig("v", "dedup_minhash",
      Map("idColumn" -> "doc_id", "textColumn" -> "nope")), schema) should not be empty
    graft.operators.SimhashDedupTransform.validate(TransformConfig("v", "dedup_simhash",
      Map("idColumn" -> "nope", "textColumn" -> "text")), schema) should not be empty
    graft.operators.MinhashDedupTransform.validate(TransformConfig("v", "dedup_minhash",
      Map("idColumn" -> "doc_id", "textColumn" -> "text",
        "survivorColumn" -> "nope")), schema) should not be empty
    graft.operators.DecontaminateTransform.validate(TransformConfig("v", "decontaminate",
      Map("idColumn" -> "doc_id", "textColumn" -> "nope")), schema) should not be empty
    graft.operators.DedupAgainstTransform.validate(TransformConfig("v", "dedup_against",
      Map("textColumn" -> "nope")), schema) should not be empty
    graft.operators.MinhashDedupTransform.validate(TransformConfig("v", "dedup_minhash",
      Map("idColumn" -> "doc_id", "textColumn" -> "text")), schema) shouldBe empty
  }

  test("clusters: transitive closure labels every node with its component minimum") {
    // two components: a path 1-5-9 (no 1-9 edge) and an isolated pair 20-21
    val pairs = Seq((1L, 5L), (5L, 9L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toSet
    got shouldBe Set((1L, 1L), (5L, 1L), (9L, 1L), (20L, 20L), (21L, 20L))
    // a longer path exercises multiple propagation rounds
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    Dedup.clusters(chain).where("cluster_id = 1").count() shouldBe 10
    // non-convergence fails LOUDLY: truncated labels would make
    // survivor=cluster silently keep extra duplicates
    val e = intercept[IllegalStateException] { Dedup.clusters(chain, maxIter = 3) }
    e.getMessage should include ("did not converge")
  }

  test("clusters star mode: O(log n) rounds label a deep path min-label cannot reach") {
    // a 40-link path (diameter 40 > 20): min-label at the default 20 rounds
    // must refuse; large-star/small-star converges in ~log2(41) rounds
    val deep = (1L to 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    an[IllegalStateException] should be thrownBy Dedup.clusters(deep)
    val star = Dedup.clusters(deep, algorithm = "star").as[(Long, Long)].collect().toSet
    star shouldBe (1L to 41L).map(_ -> 1L).toSet
    // property: identical labels to min-label (run with enough rounds) on
    // a multi-component graph with shuffled edge orientations
    val rnd = new scala.util.Random(11)
    val messy = (1 to 120).map { _ =>
      val c = rnd.nextInt(4)                        // 4 components of 30 ids
      val (a, b) = (c * 100 + rnd.nextInt(30), c * 100 + rnd.nextInt(30))
      if (rnd.nextBoolean()) (a.toLong, b.toLong) else (b.toLong, a.toLong)
    }.toDF("id_a", "id_b")
    Dedup.clusters(messy, algorithm = "star").as[(Long, Long)].collect().toSet shouldBe
      Dedup.clusters(messy, maxIter = 100).as[(Long, Long)].collect().toSet
    // isolated self-pair nodes still get labeled
    val selfish = Seq((7L, 7L), (1L, 2L)).toDF("id_a", "id_b")
    Dedup.clusters(selfish, algorithm = "star").as[(Long, Long)].collect().toSet shouldBe
      Set((7L, 7L), (1L, 1L), (2L, 1L))
    an[IllegalArgumentException] should be thrownBy
      Dedup.clusters(deep, algorithm = "galaxy")
  }

  test("near-dup removal: survivor=cluster keeps one doc per component, pair is greedier") {
    import graft.config.TransformConfig
    import graft.api.RunContext
    val ctx = RunContext(spark, "t", "r")
    // 1, 4 and 6 are exact copies → one LSH component {1, 4, 6}
    val corpus = Seq((1L, base), (2L, nearDup), (3L, unrelated), (4L, base), (6L, base))
      .toDF("doc_id", "text")
    def run(survivor: String) = graft.operators.MinhashDedupTransform(corpus,
      TransformConfig("nd", "dedup_minhash", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "threshold" -> "0.9", "survivor" -> survivor)), ctx)
      .select("doc_id").as[Long].collect().toSet
    val cluster = run("cluster")
    cluster should contain (1L)     // component minimum survives
    cluster should not contain 4L
    cluster should not contain 6L
    run("pair") shouldBe cluster    // complete LSH pairs → same keep-set here
    an[graft.api.ConfigException] should be thrownBy run("nope")
  }

  test("survivorColumn elects the BEST-scoring copy per pair/cluster; ties " +
    "and null scores fall back to the smaller id; misconfig fails fast") {
    import graft.config.TransformConfig
    import graft.api.RunContext
    val ctx = RunContext(spark, "t", "r")
    // {1, 4, 6} are exact copies; 4 carries the top score, 6 has null
    val corpus = Seq(
      (1L, base, Some(0.2)), (2L, nearDup, Some(0.9)), (3L, unrelated, Some(0.1)),
      (4L, base, Some(0.7)), (6L, base, None: Option[Double]))
      .toDF("doc_id", "text", "quality")
    def run(opts: Map[String, String]) = graft.operators.MinhashDedupTransform(
      corpus, TransformConfig("nd", "dedup_minhash", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "threshold" -> "0.9") ++ opts), ctx)
      .select("doc_id").as[Long].collect().toSet
    for (survivor <- Seq("pair", "cluster")) {
      val kept = run(Map("survivor" -> survivor, "survivorColumn" -> "quality"))
      kept should contain (4L)          // max quality wins, not min id
      kept should not contain 1L
      kept should not contain 6L        // null never survives over a scored copy
      kept should contain (3L)          // non-duplicates untouched
      // survivorOrder=min flips the election
      run(Map("survivor" -> survivor, "survivorColumn" -> "quality",
        "survivorOrder" -> "min")) should contain (1L)
    }
    // all-equal scores: deterministic tie-break toward the smaller id
    val flat = corpus.withColumn("quality",
      org.apache.spark.sql.functions.lit(1.0))
    graft.operators.MinhashDedupTransform(flat,
      TransformConfig("nd", "dedup_minhash", Map(
        "idColumn" -> "doc_id", "textColumn" -> "text", "threshold" -> "0.9",
        "survivorColumn" -> "quality")), ctx)
      .select("doc_id").as[Long].collect().toSet should contain (1L)
    // a missing survivorColumn is refused by validate, which every
    // executor runs before apply
    an[graft.api.ConfigException] should be thrownBy
      graft.runtime.PipelineExecutor.applyAll(corpus, Seq(TransformConfig("nd",
        "dedup_minhash", Map("idColumn" -> "doc_id", "textColumn" -> "text",
          "survivorColumn" -> "nope"))), graft.runtime.Registries.transforms(), ctx)
    an[graft.api.ConfigException] should be thrownBy
      run(Map("survivorColumn" -> "quality", "survivorOrder" -> "sideways"))
    an[graft.api.ConfigException] should be thrownBy
      run(Map("survivorOrder" -> "max")) // order without column
    // incremental modes have no election to run — survivor options are
    // rejected loudly, not silently dropped
    corpus.createOrReplaceTempView("survivor_ref")
    an[graft.api.ConfigException] should be thrownBy
      run(Map("referenceView" -> "survivor_ref", "survivorColumn" -> "quality"))
    an[graft.api.ConfigException] should be thrownBy
      run(Map("referenceView" -> "survivor_ref", "survivor" -> "cluster"))
  }

  test("embedding decontamination: corpus rows near any eval vector drop, broadcast plan") {
    import graft.config.TransformConfig
    import graft.api.RunContext
    val ctx = RunContext(spark, "t", "r")
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(16)(rnd.nextFloat() * 2f - 1f)
    val corpus = (0L until 50L).map(i => (i, vec()))
    // eval set = exact copies of corpus vectors 0 and 1 → sim 1.0 hits
    val eval = Seq((100L, corpus(0)._2), (101L, corpus(1)._2))
    eval.toDF("vec_id", "embedding").createOrReplaceTempView("eval_vecs")
    val out = graft.operators.EmbeddingDecontaminateTransform(
      corpus.toDF("vec_id", "embedding"),
      TransformConfig("ed", "decontaminate_embedding", Map(
        "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "benchDataset" -> "eval_vecs", "threshold" -> "0.99")), ctx)
    val kept = out.select("vec_id").as[Long].collect().toSet
    kept should not contain 0L
    kept should not contain 1L
    kept.size shouldBe 48 // random 16-dim vectors don't reach cosine 0.99
    // the corpus is never shuffled: eval side broadcasts into a nested loop
    val hits = graft.ann.Ann.crossMatches(corpus.toDF("vec_id", "embedding"),
      eval.toDF("vec_id", "embedding"), "vec_id", "vec_id", "embedding", "embedding")
    hits.queryExecution.executedPlan.toString should include ("BroadcastNestedLoopJoin")
    // identity pairs score exactly 1.0
    hits.where("vec_id = 0 AND sim > 0.9999").count() should be >= 1L
  }

  test("SimHash chunk-bucket cap drops mega-buckets; normal corpora unaffected") {
    // 60 identical docs share every 16-bit chunk → buckets of 60 > cap 10
    // → zero candidate pairs instead of 4×C(60,2) bucket-join rows
    val many = (1L to 60L).map(i => (i, base)).toDF("doc_id", "text")
    Dedup.simhashNearDups(many, "doc_id", "text", maxBucketSize = 10).count() shouldBe 0
    // with the default cap the planted near-pair from the small corpus survives
    val out = Dedup.simhashNearDups(docs.where("doc_id <= 4"), "doc_id", "text", maxHamming = 8)
      .as[(Long, Long, Long)].collect()
    out.map(p => (p._1, p._2)) should contain ((1L, 4L))
  }
}
