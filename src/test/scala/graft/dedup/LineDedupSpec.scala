package graft.dedup

import graft.SparkTestBase
import graft.api.RunContext
import graft.config.TransformConfig

class LineDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def ctx = RunContext(spark, "t", "r")

  test("first occurrence survives corpus-wide; docs rebuilt in line order") {
    val d = Seq(
      (1L, "alpha\nboiler plate\nbeta"),
      (2L, "boiler plate\ngamma\nboiler plate"), // cross-doc AND intra-doc repeat
      (3L, "boiler plate")                       // fully deduped away
    ).toDF("doc_id", "text")
    val out = LineDedup.dedupLines(d, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    out(1L) shouldBe "alpha\nboiler plate\nbeta"
    out(2L) shouldBe "gamma"
    out(3L) shouldBe ""
  }

  test("short lines never participate; null text and other columns preserved") {
    val d = Seq(
      (1L, "keep this longer line\nok", "en"),
      (2L, "keep this longer line\nok", "de"),
      (3L, null.asInstanceOf[String], "fr")).toDF("doc_id", "text", "lang")
    val out = LineDedup.dedupLines(d, "doc_id", "text", minLength = 5)
    out.columns.toSeq shouldBe Seq("doc_id", "text", "lang")
    val m = out.select("doc_id", "text").as[(Long, String)].collect().toMap
    m(1L) shouldBe "keep this longer line\nok"
    m(2L) shouldBe "ok" // the long line deduped, the short "ok" kept verbatim
    Option(m(3L)) shouldBe None
    out.where("doc_id = 3").select("lang").head().getString(0) shouldBe "fr"
  }

  test("null-id docs pass through verbatim — never blanked, never electing " +
    "un-rejoinable survivors that disable dedup corpus-wide") {
    val d = Seq(
      (Some(1L), "boiler plate line\nalpha"),
      (None: Option[Long], "boiler plate line\nunique text"),
      (Some(2L), "boiler plate line\nbeta")).toDF("doc_id", "text")
    val out = LineDedup.dedupLines(d, "doc_id", "text")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).toMap
    out(-1L) shouldBe "boiler plate line\nunique text" // untouched, NOT ""
    out(1L) shouldBe "boiler plate line\nalpha"        // survivor among non-null ids
    out(2L) shouldBe "beta"                            // dedup still ran
  }

  test("custom separator; no Window node; transform validates") {
    val d = Seq((1L, "a b c"), (2L, "b c a")).toDF("doc_id", "text")
    val out = LineDedupTransform(d, TransformConfig("ld", "dedup_lines",
      Map("idColumn" -> "doc_id", "textColumn" -> "text", "separator" -> " ")), ctx)
    val m = out.as[(Long, String)].collect().toMap
    m(1L) shouldBe "a b c" // every word first seen in doc 1
    m(2L) shouldBe ""      // word-level spans all seen before
    out.queryExecution.executedPlan.toString should not include "Window"
    an[graft.api.ConfigException] should be thrownBy LineDedupTransform(
      d, TransformConfig("ld", "dedup_lines", Map("idColumn" -> "doc_id")), ctx)
    an[graft.api.ConfigException] should be thrownBy LineDedupTransform(
      d, TransformConfig("ld", "dedup_lines", Map("idColumn" -> "doc_id",
        "textColumn" -> "text", "minLength" -> "0")), ctx)
  }

  test("document scope: in-doc repeats stripped, cross-doc repeats kept, " +
    "short lines verbatim, zero shuffle") {
    val d = Seq(
      (1L, "nav\nbody one\nnav\n\nbody two\n\nnav"), // repeated nav + blanks
      (2L, "nav\nother"),                            // same nav in ANOTHER doc: kept
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = LineDedupTransform(d, TransformConfig("ld", "dedup_lines",
      Map("textColumn" -> "text", "scope" -> "document")), ctx)
    val m = out.as[(Long, String)].collect().toMap
    // blanks (below minLength=1) never participate — both kept
    m(1L) shouldBe "nav\nbody one\n\nbody two\n"
    m(2L) shouldBe "nav\nother"
    Option(m(3L)) shouldBe None
    // pure projection: no exchange, no explode-aggregate round trip
    val plan = out.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    an[graft.api.ConfigException] should be thrownBy LineDedupTransform(
      d, TransformConfig("ld", "dedup_lines",
        Map("textColumn" -> "text", "scope" -> "nope")), ctx)
  }

  test("against-reference mode: reference lines drop, fresh lines survive, " +
    "within-increment repeats are NOT collapsed") {
    val ref = Seq((1L, "boiler plate\nlegal footer"), (2L, "nav bar")).toDF("rid", "text")
    ref.createOrReplaceTempView("line_ref")
    val inc = Seq(
      (10L, "boiler plate\nfresh alpha\nnav bar"),
      (11L, "fresh beta\nfresh beta\nlegal footer"),  // in-increment repeat stays
      (12L, "boiler plate"),                          // fully boilerplate → empty
      (13L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = LineDedupTransform(inc, TransformConfig("t", "dedup_lines",
      Map("idColumn" -> "doc_id", "textColumn" -> "text",
        "referenceView" -> "line_ref")), ctx)
      .as[(Long, String)].collect().toMap
    out(10L) shouldBe "fresh alpha"
    out(11L) shouldBe "fresh beta\nfresh beta"
    out(12L) shouldBe ""
    out(13L) shouldBe null
  }

  test("against-reference mode: short lines kept verbatim; custom ref column") {
    Seq(("ok", "aaaa\nzz")).toDF("other", "body")
      .createOrReplaceTempView("line_ref2")
    val inc = Seq((1L, "aaaa\nzz\nbbbb")).toDF("doc_id", "text")
    val out = LineDedup.dedupLinesAgainst(inc, "doc_id", "text",
      spark.table("line_ref2"), "body", minLength = 3)
      .as[(Long, String)].collect().toMap
    // 'aaaa' participates and drops; 'zz' is under minLength → kept even
    // though the reference contains it; 'bbbb' is fresh
    out(1L) shouldBe "zz\nbbbb"
  }

  test("signature-store mode equals against-reference mode and never reads " +
    "reference text; the loud-store contract fires on every malformed shape") {
    val ref = Seq((1L, "boiler plate\nlegal footer"), (2L, "nav bar")).toDF("rid", "text")
    val storeDir = tmpDir("line-store")
    LineSignaturesTransform(ref, TransformConfig("t", "line_signatures",
      Map("textColumn" -> "text")), ctx)
      .write.mode("overwrite").parquet(storeDir)
    val store = spark.read.parquet(storeDir)
    store.columns.toSeq should contain theSameElementsAs
      Seq("lh", "ld_min_length", "ld_separator")
    store.columns.contains("text") shouldBe false // the whole point
    store.createOrReplaceTempView("line_store")
    val inc = Seq(
      (10L, "boiler plate\nfresh alpha\nnav bar"),
      (11L, "fresh beta\nfresh beta\nlegal footer"),
      (12L, "boiler plate"),
      (13L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def viaStore = LineDedupTransform(inc, TransformConfig("t", "dedup_lines",
      Map("idColumn" -> "doc_id", "textColumn" -> "text",
        "signatureView" -> "line_store")), ctx)
    viaStore.as[(Long, String)].collect().toMap shouldBe
      LineDedupTransform(inc, TransformConfig("t", "dedup_lines",
        Map("idColumn" -> "doc_id", "textColumn" -> "text",
          "referenceView" -> "line_ref_eq")), {
        ref.createOrReplaceTempView("line_ref_eq"); ctx
      }).as[(Long, String)].collect().toMap
    // loud contract: missing column / mixed stamps / parameter mismatch /
    // both reference kinds at once
    intercept[graft.api.ConfigException] {
      LineDedup.dedupLinesAgainstSignatures(inc, "doc_id", "text",
        store.drop("ld_separator"))
    }.getMessage should include ("ld_separator")
    intercept[graft.api.ConfigException] {
      LineDedup.dedupLinesAgainstSignatures(inc, "doc_id", "text",
        store.union(store.withColumn("ld_min_length",
          org.apache.spark.sql.functions.lit(7))))
    }.getMessage should include ("mixed")
    intercept[graft.api.ConfigException] {
      LineDedup.dedupLinesAgainstSignatures(inc, "doc_id", "text",
        store, minLength = 5)
    }.getMessage should include ("minLength=5")
    intercept[graft.api.ConfigException] {
      LineDedupTransform(inc, TransformConfig("t", "dedup_lines",
        Map("idColumn" -> "doc_id", "textColumn" -> "text",
          "referenceView" -> "line_ref_eq", "signatureView" -> "line_store")), ctx)
    }.getMessage should include ("mutually exclusive")
  }

  test("document scope rejects referenceView instead of silently ignoring it") {
    val d = Seq((1L, "a\nb")).toDF("doc_id", "text")
    an[graft.api.ConfigException] should be thrownBy LineDedupTransform(d,
      TransformConfig("t", "dedup_lines",
        Map("textColumn" -> "text", "scope" -> "document",
          "referenceView" -> "whatever")), ctx)
  }

  test("document scope: minLength exempts short lines from participating") {
    val d = Seq((1L, "ok\nlong line here\nok\nlong line here\nok")).toDF("doc_id", "text")
    val out = LineDedup.dedupLinesInDoc(d, "text", minLength = 5)
    out.as[(Long, String)].head()._2 shouldBe "ok\nlong line here\nok\nok"
    // projection only — a LocalTableScan plan has no exchange and no agg
    out.queryExecution.executedPlan.toString should not include "Exchange"
  }
}
