package graft.dedup

import graft.SparkTestBase
import graft.api.RunContext
import graft.config.TransformConfig

class SpanDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def ctx = RunContext(spark, "t", "r")

  // a text reference as the exact core's hash frame (distinct, the
  // gramSignatures layout) and as the bloom core's (every occurrence)
  private def textHashes(ref: org.apache.spark.sql.DataFrame) =
    SpanDedup.gramSignatures(ref, "text", n = 4).select("gh")
  private def textGrams(ref: org.apache.spark.sql.DataFrame) =
    SpanDedup.gramHashes(ref, "text", n = 4)

  // 10 shared tokens: every 4-gram window inside them is duplicated
  private val shared = "one two three four five six seven eight nine ten"

  test("cross-document repeated run reported as one maximal span per side") {
    val d = Seq(
      (1L, s"intro a b $shared tail c"),
      (2L, s"$shared closing words here"),
      (3L, "totally different content with no repeats at all")
    ).toDF("doc_id", "text")
    val spans = SpanDedup.dupSpans(d, "doc_id", "text", n = 4)
      .as[(Long, Long, Long, Long)].collect().sorted
    // doc 1: tokens 4..13 (1-based, after "intro a b"); doc 2: tokens 1..10
    spans shouldBe Seq((1L, 4L, 13L, 10L), (2L, 1L, 10L, 10L))
  }

  test("within-document repetition counts toward minCount; islands with a " +
    "gap stay separate spans") {
    val d = Seq((1L, s"$shared filler filler filler $shared")).toDF("doc_id", "text")
    val spans = SpanDedup.dupSpans(d, "doc_id", "text", n = 4)
      .as[(Long, Long, Long, Long)].collect().sorted
    spans shouldBe Seq((1L, 1L, 10L, 10L), (1L, 14L, 23L, 10L))
  }

  test("overlapping coverage windows merge into ONE disjoint span — dup " +
    "gram starts at distance 2..n never emit overlapping spans") {
    // doc 1 "a b c d e f": gram@1 (a b c d) repeats in doc 2, gram@3
    // (c d e f) repeats in doc 3, gram@2 (b c d e) is unique. A
    // consecutive-start islands rule would report (1,4) and (3,6)
    // overlapping with n_toks summing 8 for 6 covered tokens.
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d"),
      (3L, "c d e f")
    ).toDF("doc_id", "text")
    val spans = SpanDedup.dupSpans(d, "doc_id", "text", n = 4)
      .as[(Long, Long, Long, Long)].collect().sorted
    spans shouldBe Seq((1L, 1L, 6L, 6L), (2L, 1L, 4L, 4L), (3L, 1L, 4L, 4L))
    // adjacency also chains: starts exactly n apart cover a contiguous run
    val adj = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d"),
      (3L, "e f g h")
    ).toDF("doc_id", "text")
    SpanDedup.dupSpans(adj, "doc_id", "text", n = 4)
      .where("doc_id = 1").as[(Long, Long, Long, Long)].collect().toSeq shouldBe
      Seq((1L, 1L, 8L, 8L))
  }

  test("minCount=3 requires three occurrences") {
    val d = Seq(
      (1L, s"$shared a"), (2L, s"$shared b")).toDF("doc_id", "text")
    SpanDedup.dupSpans(d, "doc_id", "text", n = 4, minCount = 3).count() shouldBe 0L
    val d3 = d.union(Seq((3L, s"$shared c")).toDF("doc_id", "text"))
    SpanDedup.dupSpans(d3, "doc_id", "text", n = 4, minCount = 3).count() shouldBe 3L
  }

  test("matching is case-insensitive but removal keeps original case; " +
    "untouched docs stay byte-identical; fully-covered docs empty out") {
    val d = Seq(
      (1L, s"KeepMe  Exactly  As-Is"),                      // no repeats: verbatim
      (2L, s"ONE TWO THREE FOUR FIVE six seven eight nine ten Unique2"),
      (3L, s"$shared"),                                     // fully covered
      (4L, null.asInstanceOf[String]),
      (5L, s"prefix5 $shared")
    ).toDF("doc_id", "text")
    val out = SpanDedup.removeSpans(d, "doc_id", "text",
      SpanDedup.dupSpans(d, "doc_id", "text", n = 4))
      .as[(Long, String)].collect().toMap
    out(1L) shouldBe "KeepMe  Exactly  As-Is" // double spaces preserved
    out(2L) shouldBe "Unique2"                // survivor keeps its casing
    out(3L) shouldBe ""
    Option(out(4L)) shouldBe None
    out(5L) shouldBe "prefix5"
  }

  test("transform dispatch: report and remove modes, validation errors") {
    val d = Seq((1L, s"$shared x"), (2L, s"$shared y")).toDF("doc_id", "text")
    val rep = SpanDedupTransform(d, TransformConfig("sd", "dedup_spans",
      Map("idColumn" -> "doc_id", "textColumn" -> "text",
        "n" -> "4", "mode" -> "report")), ctx)
    rep.columns.toSeq shouldBe Seq("doc_id", "start_tok", "end_tok", "n_toks")
    rep.count() shouldBe 2L
    val rem = SpanDedupTransform(d, TransformConfig("sd", "dedup_spans",
      Map("idColumn" -> "doc_id", "textColumn" -> "text", "n" -> "4")), ctx)
    rem.as[(Long, String)].collect().toMap.apply(1L) shouldBe "x"
    an[graft.api.ConfigException] should be thrownBy SpanDedupTransform(
      d, TransformConfig("sd", "dedup_spans", Map("idColumn" -> "doc_id")), ctx)
    an[graft.api.ConfigException] should be thrownBy SpanDedupTransform(
      d, TransformConfig("sd", "dedup_spans", Map("idColumn" -> "doc_id",
        "textColumn" -> "text", "mode" -> "bogus")), ctx)
    an[graft.api.ConfigException] should be thrownBy SpanDedupTransform(
      d, TransformConfig("sd", "dedup_spans", Map("idColumn" -> "doc_id",
        "textColumn" -> "text", "n" -> "1")), ctx)
    // non-numeric options get the guided ConfigException, not a raw
    // NumberFormatException from before the dispatch try-block
    an[graft.api.ConfigException] should be thrownBy SpanDedupTransform(
      d, TransformConfig("sd", "dedup_spans", Map("idColumn" -> "doc_id",
        "textColumn" -> "text", "n" -> "eight")), ctx)
    an[graft.api.ConfigException] should be thrownBy GramSignaturesTransform(
      d, TransformConfig("gs", "gram_signatures", Map(
        "textColumn" -> "text", "n" -> "eight")), ctx)
    // fpp is bloom-only: with the default exact method it is a misconfig
    an[graft.api.ConfigException] should be thrownBy SpanDedupTransform(
      d, TransformConfig("sd", "dedup_spans", Map("idColumn" -> "doc_id",
        "textColumn" -> "text", "fpp" -> "1e-6")), ctx)
  }

  test("against-mode: reference spans removed, increment-internal repeats " +
    "deliberately kept, minCount conflict rejected") {
    val ref = Seq((100L, s"some preamble $shared")).toDF("doc_id", "text")
    val inc = Seq(
      (1L, s"intro $shared outro"),
      (2L, "say it again say it again say it again and again today")
    ).toDF("doc_id", "text")
    val spans = SpanDedup.referenceSpans(inc, "doc_id", "text", textHashes(ref), n = 4)
      .as[(Long, Long, Long, Long)].collect().sorted
    spans shouldBe Seq((1L, 2L, 11L, 10L))
    val out = SpanDedup.removeSpans(inc, "doc_id", "text",
        SpanDedup.referenceSpans(inc, "doc_id", "text", textHashes(ref), n = 4))
      .as[(Long, String)].collect().toMap
    out(1L) shouldBe "intro outro"
    out(2L) shouldBe "say it again say it again say it again and again today"
    ref.createOrReplaceTempView("span_ref")
    val viaTransform = SpanDedupTransform(inc, TransformConfig("sd", "dedup_spans",
      Map("idColumn" -> "doc_id", "textColumn" -> "text", "n" -> "4",
        "referenceView" -> "span_ref")), ctx)
      .as[(Long, String)].collect().toMap
    viaTransform(1L) shouldBe "intro outro"
    an[graft.api.ConfigException] should be thrownBy SpanDedupTransform(
      inc, TransformConfig("sd", "dedup_spans", Map("idColumn" -> "doc_id",
        "textColumn" -> "text", "referenceView" -> "span_ref",
        "minCount" -> "3")), ctx)
  }

  test("bloom against-mode matches the exact semi-join on this corpus and " +
    "plans no join for the gram filter; guards validated") {
    val ref = Seq((100L, s"some preamble $shared")).toDF("doc_id", "text")
    val inc = Seq(
      (1L, s"intro $shared outro"),
      (2L, "say it again say it again say it again and again today")
    ).toDF("doc_id", "text")
    val exact = SpanDedup.referenceSpans(inc, "doc_id", "text", textHashes(ref), n = 4)
      .as[(Long, Long, Long, Long)].collect().sorted
    val bloom = SpanDedup.referenceSpansBloom(inc, "doc_id", "text", textGrams(ref), n = 4)
      .as[(Long, Long, Long, Long)].collect().sorted
    bloom shouldBe exact
    val rem = SpanDedup.removeSpans(inc, "doc_id", "text",
        SpanDedup.referenceSpansBloom(inc, "doc_id", "text", textGrams(ref), n = 4))
      .as[(Long, String)].collect().toMap
    rem(1L) shouldBe "intro outro"
    // one exchange for the islands window only: the gram filter is a
    // zero-join projection (the semi-join path has a second exchange)
    val plan = SpanDedup.referenceSpansBloom(inc, "doc_id", "text", textGrams(ref), n = 4)
      .queryExecution.executedPlan.toString
    plan should include("might_contain")
    plan should not include "Join"
    ref.createOrReplaceTempView("span_bloom_ref")
    an[graft.api.ConfigException] should be thrownBy SpanDedupTransform(
      inc, TransformConfig("sd", "dedup_spans", Map("idColumn" -> "doc_id",
        "textColumn" -> "text", "method" -> "bloom")), ctx) // no referenceView
    an[graft.api.ConfigException] should be thrownBy SpanDedupTransform(
      inc, TransformConfig("sd", "dedup_spans", Map("idColumn" -> "doc_id",
        "textColumn" -> "text", "referenceView" -> "span_bloom_ref",
        "method" -> "nope")), ctx)
    SpanDedupTransform(inc, TransformConfig("sd", "dedup_spans",
      Map("idColumn" -> "doc_id", "textColumn" -> "text", "n" -> "4",
        "referenceView" -> "span_bloom_ref", "method" -> "bloom")), ctx)
      .as[(Long, String)].collect().toMap.apply(1L) shouldBe "intro outro"
  }

  test("gram-signature store round-trip: store-driven spans match the " +
    "text-reference path for exact AND bloom; store carries no text; " +
    "n mismatch fails fast") {
    val ref = Seq((100L, s"some preamble $shared")).toDF("doc_id", "text")
    val inc = Seq(
      (1L, s"intro $shared outro"),
      (2L, "say it again say it again say it again and again today")
    ).toDF("doc_id", "text")
    // build → persist → re-load: the consuming run reads ONLY the parquet
    val dir = tmpDir("gram-store")
    SpanDedup.gramSignatures(ref, "text", n = 4).write.mode("overwrite").parquet(dir)
    val store = spark.read.parquet(dir)
    store.columns.toSet shouldBe Set("gh", "sg_n") // slim, no text
    val viaText = SpanDedup.referenceSpans(inc, "doc_id", "text", textHashes(ref), n = 4)
      .as[(Long, Long, Long, Long)].collect().sorted
    SpanDedup.referenceSpans(inc, "doc_id", "text", SpanDedup.storeHashes(store, n = 4), n = 4)
      .as[(Long, Long, Long, Long)].collect().sorted shouldBe viaText
    SpanDedup.referenceSpansBloom(inc, "doc_id", "text",
        SpanDedup.storeHashes(store, n = 4), n = 4)
      .as[(Long, Long, Long, Long)].collect().sorted shouldBe viaText
    SpanDedup.removeSpans(inc, "doc_id", "text", SpanDedup.referenceSpans(inc,
        "doc_id", "text", SpanDedup.storeHashes(store, n = 4), n = 4))
      .as[(Long, String)].collect().toMap.apply(1L) shouldBe "intro outro"
    an[graft.api.ConfigException] should be thrownBy
      SpanDedup.storeHashes(store, n = 5)
    an[graft.api.ConfigException] should be thrownBy
      SpanDedup.storeHashes(inc.selectExpr("doc_id AS gh"), n = 4) // missing sg_n stamp
    // a MIXED-stamp store (two builds appended) fails no matter which
    // row a sample would have surfaced; a null stamp is a config error
    val mixed = store.unionByName(
      SpanDedup.gramSignatures(ref, "text", n = 5))
    an[graft.api.ConfigException] should be thrownBy
      SpanDedup.storeHashes(mixed, n = 4)
    an[graft.api.ConfigException] should be thrownBy
      SpanDedup.storeHashes(
        store.selectExpr("gh", "CAST(NULL AS INT) AS sg_n"), n = 4)
    // declarative surface: signatureView consumes the store; mutual
    // exclusion with referenceView enforced
    store.createOrReplaceTempView("gram_store")
    ref.createOrReplaceTempView("gram_store_text_ref")
    SpanDedupTransform(inc, TransformConfig("sd", "dedup_spans",
      Map("idColumn" -> "doc_id", "textColumn" -> "text", "n" -> "4",
        "signatureView" -> "gram_store")), ctx)
      .as[(Long, String)].collect().toMap.apply(1L) shouldBe "intro outro"
    an[graft.api.ConfigException] should be thrownBy SpanDedupTransform(
      inc, TransformConfig("sd", "dedup_spans", Map("idColumn" -> "doc_id",
        "textColumn" -> "text", "signatureView" -> "gram_store",
        "referenceView" -> "gram_store_text_ref")), ctx)
    // producer transform projects the store layout
    val produced = graft.dedup.GramSignaturesTransform(ref,
      TransformConfig("gs", "gram_signatures",
        Map("textColumn" -> "text", "n" -> "4")), ctx)
    produced.columns.toSet shouldBe Set("gh", "sg_n")
    produced.count() shouldBe store.count()
  }

  test("partition invariance: spans and removal identical at 1, 3 and 7 " +
    "input partitions") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val base = (0L until 60L).map { i =>
      val toks = Vector.fill(12)(vocab(rnd.nextInt(vocab.size)))
      (i, toks.mkString(" "))
    }
    // plant cross-doc repeats
    val planted = base ++ Seq((100L, base(3)._2), (101L, base(7)._2))
    val dfs = Seq(1, 3, 7).map(p =>
      spark.createDataFrame(planted).toDF("doc_id", "text").repartition(p))
    val spans = dfs.map(SpanDedup.dupSpans(_, "doc_id", "text", n = 4)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq)
    spans(0) should not be empty
    spans(1) shouldBe spans(0)
    spans(2) shouldBe spans(0)
    val removed = dfs.map(df => SpanDedup.removeSpans(df, "doc_id", "text",
      SpanDedup.dupSpans(df, "doc_id", "text", n = 4))
      .as[(Long, String)].collect().sorted.toSeq)
    removed(1) shouldBe removed(0)
    removed(2) shouldBe removed(0)
  }

  test("null-id documents pass through verbatim — never merged into one " +
    "window partition producing cross-document spans — but their grams " +
    "still count as duplication evidence") {
    // two null-id docs each containing the shared run: without the null-id
    // position exclusion both land in ONE islands partition and their
    // interleaved positions merge into bogus spans in report mode
    val other = "eins zwei drei vier fünf sechs sieben acht nein zehn"
    val d = Seq(
      (Some(1L), s"intro a b $shared tail c"),
      (Some(2L), s"$shared closing words here"),
      // doc 3's run repeats ONLY in a null-id doc — it must still be
      // detected (null grams count toward minCount, emit no positions)
      (Some(3L), s"header $other footer"),
      (None: Option[Long], s"x y $shared z"),
      (None: Option[Long], s"p q r $other s")
    ).toDF("doc_id", "text")
    val spans = SpanDedup.dupSpans(d, "doc_id", "text", n = 4)
      .as[(Option[Long], Long, Long, Long)].collect().sorted
    // only id-bearing docs are reported; null ids emit no spans
    spans.foreach(_._1 should not be None)
    spans.map(s => (s._1.get, s._2, s._3, s._4)).toSeq shouldBe
      Seq((1L, 4L, 13L, 10L), (2L, 1L, 10L, 10L), (3L, 2L, 11L, 10L))
    // removal: null-id docs byte-identical, id-bearing docs stripped
    val out = SpanDedup.removeSpans(d, "doc_id", "text",
      SpanDedup.dupSpans(d, "doc_id", "text", n = 4))
      .as[(Option[Long], String)].collect()
    out.filter(_._1.isEmpty).map(_._2).sorted shouldBe
      Array(s"p q r $other s", s"x y $shared z")
    out.find(_._1.contains(1L)).get._2 shouldBe "intro a b tail c"
    out.find(_._1.contains(3L)).get._2 shouldBe "header footer"
  }

  test("plan shape: no corpus-global window — islands window is keyed by doc") {
    val d = Seq((1L, s"$shared z"), (2L, s"$shared w")).toDF("doc_id", "text")
    val spans = SpanDedup.dupSpans(d, "doc_id", "text", n = 4)
    spans.queryExecution.executedPlan.toString should include("Window")
    graft.plans.PlanLint.errors(spans) shouldBe empty
    graft.plans.PlanLint.errors(
      SpanDedup.removeSpans(d, "doc_id", "text",
        SpanDedup.dupSpans(d, "doc_id", "text", n = 4))) shouldBe empty
  }
}
