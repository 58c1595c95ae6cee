package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.api.{ConfigException, RunContext}
import graft.config.TransformConfig
import graft.text.ChargramLm

class LangModelSpec extends SparkTestBase {
  import spark.implicits._

  private def ctx = RunContext(spark, "t", "r")
  private def t(tp: String, opts: (String, String)*) = TransformConfig("x", tp, opts.toMap)

  // three "languages" with disjoint character inventories, so trigram
  // evidence separates them with wide margins
  private def labeled = Seq(
    ("en", "the thin then theft tenth"),
    ("en", "net ten tent tenet hen"),
    ("el", "αλφα βητα γαμμα δελτα"),
    ("el", "ταβλα αλβα γαλα βαλτα"),
    ("zh", "这是 一个 中文 文本 样本"),
    ("zh", "中文 样本 文本 这个 一个")).toDF("lang", "text")

  private def trainStore(n: String = "2", minCount: String = "1") =
    ChargramLmTransform(labeled,
      t("chargram_lm", "labelColumn" -> "lang", "textColumn" -> "text",
        "n" -> n, "minCount" -> minCount), ctx)

  test("train → classify: held-out docs land on their language; no-gram docs are 'und'") {
    trainStore().createOrReplaceTempView("lm_basic")
    val docs = Seq(
      (1L, "tenth then net"),        // en trigram mass
      (2L, "γαμμα αλφα"),            // el
      (3L, "中文 这个 样本"),          // zh
      (4L, "x"),                     // shorter than n → no grams
      (5L, null.asInstanceOf[String]) // null text
    ).toDF("doc_id", "text")
      .union(Seq((null.asInstanceOf[java.lang.Long], "the then tenth"))
        .toDF("doc_id", "text"))     // null id: per-row scoring needs no id
    val out = LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_basic", "scoreColumn" -> "lang_score"), ctx)
    out.columns should contain allOf ("lang_pred", "lang_score")
    val preds = out.collect().map(r =>
      Option(r.getAs[java.lang.Long]("doc_id")).map(_.toLong) ->
        r.getAs[String]("lang_pred")).toMap
    preds(Some(1L)) shouldBe "en"
    preds(Some(2L)) shouldBe "el"
    preds(Some(3L)) shouldBe "zh"
    preds(Some(4L)) shouldBe "und"
    preds(Some(5L)) shouldBe "und"
    preds(None) shouldBe "en" // classification is per-row — no id needed
    // scores exist exactly where a prediction exists
    out.where(col("lang_pred") =!= "und")
      .where(col("lang_score").isNull).count() shouldBe 0L
    out.where(col("lang_pred") === "und")
      .where(col("lang_score").isNotNull).count() shouldBe 0L
    // idColumn is not an option — per-row scoring has no id to join on
    (the[ConfigException] thrownBy graft.runtime.PipelineExecutor.applyAll(docs,
      Seq(t("lang_classify", "idColumn" -> "doc_id", "textColumn" -> "text",
        "modelView" -> "lm_basic")), graft.runtime.Registries.transforms(), ctx))
      .getMessage should include ("unknown option 'idColumn'")
  }

  test("store: stamped layout, parquet round-trip classifies identically") {
    val store = trainStore()
    store.columns.toSeq shouldBe Seq("label", "gram", "cnt", "clm_n", "clm_min_count")
    store.select("clm_n", "clm_min_count").distinct().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq shouldBe Seq((2, 1L))
    val dir = tmpDir("lmstore")
    store.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("lm_rt")
    store.createOrReplaceTempView("lm_mem")
    val docs = Seq((1L, "tenth then"), (2L, "αλφα γαλα")).toDF("doc_id", "text")
    def classify(view: String) = LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> view), ctx)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    classify("lm_rt") shouldBe classify("lm_mem")
    classify("lm_rt") shouldBe Map(1L -> "en", 2L -> "el")
  }

  test("a zero-match label still competes through its all-unseen smoothed mass") {
    // model: 'big' has far more gram mass than 'small'; a doc matching
    // NOTHING must score both labels (grid), and the argmax must favor
    // the label whose smoothed unseen term is larger (smaller total)
    val d = Seq(("big", "aaaa aaab aaba abaa baaa aabb abba bbaa abab baba"),
        ("small", "cc")).toDF("lang", "text")
    ChargramLmTransform(d, t("chargram_lm",
        "labelColumn" -> "lang", "textColumn" -> "text", "n" -> "2"), ctx)
      .createOrReplaceTempView("lm_grid")
    val out = LangClassifyTransform(Seq((1L, "zzzz zzz")).toDF("doc_id", "text"),
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_grid"), ctx)
      .select("lang_pred").as[String].head()
    // every doc gram is unseen under BOTH labels: score(L) =
    // n_grams · ln(1/(total_L + V)) — maximized by the smaller total
    out shouldBe "small"
  }

  test("tie-break: equal scores resolve toward the larger label (the langId convention)") {
    // two labels trained on identical text → identical totals and counts
    // → every doc scores them equally; max(struct(score, label)) must
    // pick the lexicographically larger label deterministically
    val d = Seq(("aa", "xyxy xyx"), ("bb", "xyxy xyx")).toDF("lang", "text")
    ChargramLmTransform(d, t("chargram_lm",
        "labelColumn" -> "lang", "textColumn" -> "text", "n" -> "2"), ctx)
      .createOrReplaceTempView("lm_tie")
    LangClassifyTransform(Seq((1L, "xy yx")).toDF("doc_id", "text"),
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_tie"), ctx)
      .select("lang_pred").as[String].head() shouldBe "bb"
  }

  test("minCount prunes label-local rare grams; stamp mismatches and bad stores fail loudly") {
    val pruned = trainStore(minCount = "3")
    // minCount=3 keeps only grams seen >= 3 times within their label
    pruned.where(col("cnt") < 3).count() shouldBe 0L
    pruned.createOrReplaceTempView("lm_pruned")
    // consume-side stamp expectations must match training stamps
    val docs = Seq((1L, "tenth")).toDF("doc_id", "text")
    (the[ConfigException] thrownBy LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_pruned", "n" -> "3"), ctx))
      .getMessage should include ("trained with n=2")
    (the[ConfigException] thrownBy LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_pruned", "minCount" -> "1"), ctx))
      .getMessage should include ("minCount=3")
    // unregistered view / wrong layout / mixed stamps
    (the[ConfigException] thrownBy LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_nope"), ctx))
      .getMessage should include ("not a registered view")
    Seq(("en", "th", 2L)).toDF("label", "gram", "cnt")
      .createOrReplaceTempView("lm_bad_layout")
    (the[ConfigException] thrownBy LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_bad_layout"), ctx))
      .getMessage should include ("missing column")
    trainStore(n = "2").union(trainStore(n = "3"))
      .createOrReplaceTempView("lm_mixed")
    (the[ConfigException] thrownBy LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_mixed"), ctx))
      .getMessage should include ("mixed or null parameter stamps")
    // maxLabels guard names the grid
    trainStore().createOrReplaceTempView("lm_guard")
    (the[ConfigException] thrownBy LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_guard", "maxLabels" -> "2"), ctx))
      .getMessage should include ("maxLabels")
  }

  test("the sparse model carries label-disjoint stores past the old dense " +
    "ceiling; the obsolete maxModelCells knob refuses with guidance; " +
    "appended stores are refused") {
    val docs = Seq((1L, "tenth")).toDF("doc_id", "text")
    // the spec corpus's labels have DISJOINT character inventories, so
    // distinct_grams × labels (the dense allocation this store needed
    // under the old layout) is ~3× its row count — under the old
    // maxModelCells=10-style budget below rows×labels this refused; the
    // sparse model's footprint is O(rows), so it loads and classifies
    trainStore().createOrReplaceTempView("lm_cells")
    val loaded = ChargramLm.load(spark.table("lm_cells"))
    val rowsInStore = spark.table("lm_cells").count()
    loaded.model.table.size.toLong should be <= rowsInStore // sparse: per-row pairs
    LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_cells"), ctx)
      .select("lang_pred").as[String].head() shouldBe "en"
    // the dense-era knob no longer guards anything — refused, not ignored
    (the[ConfigException] thrownBy graft.runtime.PipelineExecutor.applyAll(docs,
      Seq(t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_cells", "maxModelCells" -> "10")),
      graft.runtime.Registries.transforms(), ctx))
      .getMessage should include ("unknown option 'maxModelCells' (did you mean 'maxModelRows'?)")
    // QUANTITATIVE sparsity: a fully label-disjoint store (every label
    // its own vocabulary) holds exactly rows pairs in memory, while the
    // dense layout allocated rows × labels cells — 60× here, the blow-up
    // the old ceiling existed to catch. 60 labels × 25 disjoint 2-grams:
    val disjoint = (for (l <- 0 until 60; g <- 0 until 25) yield
      (f"l$l%02d", f"${('a' + l % 26).toChar}${(g + l) % 97}%02d" + l + "_" + g,
        (g + 1).toLong)).toDF("label", "gram", "cnt")
      .withColumn("clm_n", lit(2)).withColumn("clm_min_count", lit(1L))
    val big = ChargramLm.load(disjoint)
    big.model.labels.length shouldBe 60
    // stored (label, ln) pairs: O(rows), not rows × labels
    big.model.table.values.asScala.map(_.idx.length.toLong).sum shouldBe 1500L
    big.model.table.size shouldBe 1500          // disjoint vocabularies
    // 1500 × 60 = 90000 dense cells would have tripped a 64k-cell budget;
    // the sparse model needs no such ceiling at all
    // a store appended to itself carries IDENTICAL stamps, so the
    // mixed-stamp check cannot see it — the duplicate-(label, gram) guard
    // must, or totals double-count while byGram keeps one copy
    trainStore().union(trainStore()).createOrReplaceTempView("lm_dup")
    (the[ConfigException] thrownBy LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_dup"), ctx))
      .getMessage should include ("duplicate (label, gram)")
    // outputColumn == scoreColumn would silently overwrite the prediction
    // with the rounded score; refused case-insensitively
    trainStore().createOrReplaceTempView("lm_selfcoll")
    (the[ConfigException] thrownBy LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text", "modelView" -> "lm_selfcoll",
        "outputColumn" -> "pred", "scoreColumn" -> "PRED"), ctx))
      .getMessage should include ("distinct names")
  }

  test("unseenColumn / maxUnseenFrac: store drift is observable and guardable " +
    "on both chargram_lm consumers") {
    trainStore().createOrReplaceTempView("lm_drift")
    // corpus B: one in-vocabulary doc, one ENTIRELY out-of-alphabet doc
    // (cyrillic — the store trained on latin/greek/cjk), one no-gram doc
    val docs = Seq(
      (1L, "the thin"), // an exact substring of a training doc: every
                        // bigram (space-spanning ones included) is stored
      (2L, "дом мир снег"),
      (3L, "x")).toDF("doc_id", "text")
    val out = LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text", "modelView" -> "lm_drift",
        "unseenColumn" -> "unseen_frac"), ctx)
    val fr = out.collect().map(r => r.getAs[Long]("doc_id") ->
      Option(r.getAs[java.lang.Double]("unseen_frac")).map(_.toDouble)).toMap
    fr(1L).get shouldBe 0.0       // every bigram trained
    fr(2L).get shouldBe 1.0       // the model has never seen ANY gram
    fr(3L) shouldBe None          // no grams → null, like the scorers
    // the same plumbing on chargram_nll's modelView mode
    val nll = graft.runtime.Registries.transforms().get("chargram_nll").apply(docs,
      t("chargram_nll", "textColumn" -> "text", "modelView" -> "lm_drift",
        "label" -> "en", "unseenColumn" -> "unseen_frac"), ctx)
    nll.columns should contain ("unseen_frac")
    nll.where(col("doc_id") === 2L).select("unseen_frac")
      .head().getDouble(0) shouldBe 1.0
    // the armed guard refuses the drifted row with guidance
    val ex = intercept[Exception] {
      LangClassifyTransform(docs,
        t("lang_classify", "textColumn" -> "text", "modelView" -> "lm_drift",
          "unseenColumn" -> "unseen_frac", "maxUnseenFrac" -> "0.5"), ctx)
        .collect()
    }
    Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null).take(10)
      .flatMap(e => Option(e.getMessage)).mkString(" | ") should
      include ("maxUnseenFrac=0.5")
    // …and passes untouched when every row is under the threshold
    LangClassifyTransform(docs.where(col("doc_id") =!= 2L),
      t("lang_classify", "textColumn" -> "text", "modelView" -> "lm_drift",
        "unseenColumn" -> "unseen_frac", "maxUnseenFrac" -> "0.5"), ctx)
      .count() shouldBe 2L
    // config contradictions fail with guidance
    (the[ConfigException] thrownBy LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text", "modelView" -> "lm_drift",
        "maxUnseenFrac" -> "0.5"), ctx))
      .getMessage should include ("unseenColumn")
    (the[ConfigException] thrownBy LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text", "modelView" -> "lm_drift",
        "unseenColumn" -> "unseen", "maxUnseenFrac" -> "1.5"), ctx))
      .getMessage should include ("[0, 1]")
    (the[ConfigException] thrownBy LangClassifyTransform(
      docs.withColumn("UNSEEN", lit(1)),
      t("lang_classify", "textColumn" -> "text", "modelView" -> "lm_drift",
        "unseenColumn" -> "unseen"), ctx))
      .getMessage should include ("already exists")
    // self-mode chargram_nll has no store to drift from
    (the[ConfigException] thrownBy graft.runtime.Registries.transforms()
      .get("chargram_nll")
      .apply(docs, t("chargram_nll", "idColumn" -> "doc_id",
        "textColumn" -> "text", "unseenColumn" -> "u"), ctx))
      .getMessage should include ("only applies with modelView")
  }

  test("train-time loud failures: null/blank labels, empty gram table, output collisions") {
    // null label: fails in-plan (raise_error rides the one training
    // pass), surfaced through Spark's execution exception chain
    val nullLab = Seq(("en", "the then"), (null.asInstanceOf[String], "oops"))
      .toDF("lang", "text")
    val ex = intercept[Exception] {
      ChargramLmTransform(nullLab, t("chargram_lm",
        "labelColumn" -> "lang", "textColumn" -> "text"), ctx).count()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10).flatMap(e => Option(e.getMessage)).mkString(" | ")
    messages should include ("null/blank labels")
    // empty gram table (every text shorter than n) fails at TRAIN time
    // with the real cause, not at the first load
    val short = Seq(("en", "ab"), ("de", "cd")).toDF("lang", "text")
    (the[ConfigException] thrownBy ChargramLmTransform(short,
      t("chargram_lm", "labelColumn" -> "lang", "textColumn" -> "text",
        "n" -> "5"), ctx))
      .getMessage should include ("no (label, gram) pair survived")
    // output-column collision refuses instead of silently overwriting
    trainStore().createOrReplaceTempView("lm_coll")
    val withPred = Seq((1L, "tenth", "x")).toDF("doc_id", "text", "lang_pred")
    (the[ConfigException] thrownBy LangClassifyTransform(withPred,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_coll"), ctx))
      .getMessage should include ("already exists")
  }

  test("text_signals langModelView: the lang signal equals lang_classify's trained prediction") {
    trainStore().createOrReplaceTempView("lm_sig")
    val docs = Seq((1L, "tenth then net"), (2L, "γαμμα αλφα"),
      (3L, "中文 样本"), (4L, "x")).toDF("doc_id", "text")
    val viaSignal = TextSignalsTransform(docs,
      t("text_signals", "textColumn" -> "text", "signals" -> "lang,chars",
        "langModelView" -> "lm_sig"), ctx)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    val viaClassify = LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text", "modelView" -> "lm_sig"), ctx)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    viaSignal shouldBe viaClassify
    viaSignal(1L) shouldBe "en"
    viaSignal(4L) shouldBe "und"
    // the heuristic default differs (fixed 5-language stopword lists know
    // nothing of the planted Greek corpus) — the upgrade is observable
    val heuristic = TextSignalsTransform(docs,
      t("text_signals", "textColumn" -> "text", "signals" -> "lang"), ctx)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    heuristic(2L) should not be "el"
    // set-but-unused is a config contradiction, like mergesView
    (the[ConfigException] thrownBy TextSignalsTransform(docs,
      t("text_signals", "textColumn" -> "text", "signals" -> "chars",
        "langModelView" -> "lm_sig"), ctx))
      .getMessage should include ("lang signal is not selected")
    (the[ConfigException] thrownBy TextSignalsTransform(docs,
      t("text_signals", "textColumn" -> "text", "signals" -> "lang",
        "langModelView" -> "lm_missing"), ctx))
      .getMessage should include ("not a registered view")
  }

  test("chargram_nll modelView: smoothed per-row NLL under a persisted reference model, golden value") {
    // single-label store, n=2, from "abab": grams ab(2) ba(1) → total=3, V=2
    val ref = Seq(("ref", "abab")).toDF("lang", "text")
    ChargramLmTransform(ref, t("chargram_lm", "labelColumn" -> "lang",
      "textColumn" -> "text", "n" -> "2"), ctx)
      .createOrReplaceTempView("lm_nll_store")
    val docs = Seq((1L, "aba"), (2L, "zz"), (3L, "x")).toDF("doc_id", "text")
    val out = ChargramNllTransform(docs, t("chargram_nll",
      "textColumn" -> "text", "modelView" -> "lm_nll_store"), ctx)
      .select("doc_id", "nll").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    // doc 1 "aba": grams ab, ba → nll = ln(3+2) − (ln(2+1)+ln(1+1))/2
    val expected1 = math.log(5.0) - (math.log(3.0) + math.log(2.0)) / 2.0
    out(1L).get shouldBe (math.rint(expected1 * 1e4) / 1e4 +- 1e-9)
    // doc 2 "zz": one gram, unseen → nll = ln(5) − ln(1)/1 = ln(5)
    out(2L).get shouldBe (math.rint(math.log(5.0) * 1e4) / 1e4 +- 1e-9)
    out(3L) shouldBe None // shorter than n: no grams → null
    // a multi-label store must name which model to score under
    trainStore().createOrReplaceTempView("lm_nll_multi")
    (the[ConfigException] thrownBy ChargramNllTransform(docs, t("chargram_nll",
      "textColumn" -> "text", "modelView" -> "lm_nll_multi"), ctx))
      .getMessage should include ("name which one")
    // ...and the named label must exist
    (the[ConfigException] thrownBy ChargramNllTransform(docs, t("chargram_nll",
      "textColumn" -> "text", "modelView" -> "lm_nll_multi",
      "label" -> "xx"), ctx))
      .getMessage should include ("not in the store")
    // naming a label works and differs per model
    val en = ChargramNllTransform(docs, t("chargram_nll",
      "textColumn" -> "text", "modelView" -> "lm_nll_multi",
      "label" -> "en"), ctx).select("nll").collect()
    en.length shouldBe 3
    // idColumn has no effect in store mode — reject it loudly
    (the[ConfigException] thrownBy ChargramNllTransform(docs, t("chargram_nll",
      "idColumn" -> "doc_id", "textColumn" -> "text",
      "modelView" -> "lm_nll_store"), ctx))
      .getMessage should include ("idColumn has no effect")
  }

  test("chargram_nll modelView, MULTI-label store: the NAMED label's sparse " +
    "entries are the ones scored — golden values differ per label") {
    // hand-built two-label store sharing gram 'ab' with different counts:
    // the sparse per-gram (labelIdx, ln) pairs for 'ab' hold BOTH labels,
    // so a binary-search/ordering bug would score the other label's count
    // and these exact values would catch it
    import org.apache.spark.sql.functions.lit
    val store = Seq(
      ("en", "ab", 3L), ("en", "ba", 1L),
      ("de", "ab", 1L), ("de", "cd", 5L))
      .toDF("label", "gram", "cnt")
      .withColumn("clm_n", lit(2)).withColumn("clm_min_count", lit(1L))
    store.createOrReplaceTempView("lm_nll_two")
    val docs = Seq((1L, "abcd")).toDF("doc_id", "text") // grams: ab, bc, cd
    // V = 3 (ab, ba, cd); totals: en = 4, de = 6; bc unseen under both
    def nllFor(label: String): Double =
      ChargramNllTransform(docs, t("chargram_nll", "textColumn" -> "text",
        "modelView" -> "lm_nll_two", "label" -> label), ctx)
        .select("nll").collect().head.getDouble(0)
    val enExpect = math.log(7.0) - (math.log(4.0) + 0.0 + math.log(1.0)) / 3.0
    val deExpect = math.log(9.0) - (math.log(2.0) + 0.0 + math.log(6.0)) / 3.0
    nllFor("en") shouldBe (math.rint(enExpect * 1e4) / 1e4 +- 1e-9)
    nllFor("de") shouldBe (math.rint(deExpect * 1e4) / 1e4 +- 1e-9)
  }

  test("property: LangScores equals an independent in-JVM reference on seeded random corpora") {
    // random labeled corpora over mixed 1/2/3-byte alphabets, random docs
    // (in-vocab, out-of-vocab, and mixed); the reference re-implements the
    // smoothed argmax DIRECTLY from the collected store rows in the same
    // factored accumulation order, so scores must be bit-identical and
    // predictions equal — including the larger-label tie rule
    val rnd = new scala.util.Random(29)
    val pools = Seq(('a' to 'f').map(_.toString), Seq("α", "β", "γ"),
      Seq("的", "是", "不"))
    def word(pool: Seq[String]): String =
      (1 to (2 + rnd.nextInt(4))).map(_ => pool(rnd.nextInt(pool.size))).mkString
    for (round <- 1 to 5) {
      val nLabels = 2 + rnd.nextInt(3)
      val labeled = (0 until nLabels).flatMap { li =>
        val pool = pools(li % pools.length)
        (1 to 3).map(_ => (s"L$li",
          (1 to (2 + rnd.nextInt(4))).map(_ => word(pool)).mkString(" ")))
      }.toDF("lang", "text")
      val store = ChargramLmTransform(labeled, t("chargram_lm",
        "labelColumn" -> "lang", "textColumn" -> "text", "n" -> "2"), ctx)
      store.createOrReplaceTempView(s"lm_prop_$round")
      // the independent reference, from the raw store rows
      val rows = store.select("label", "gram", "cnt").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val labels = rows.map(_._1).distinct.sorted // ASCII labels: order moot
      val totals = labels.map(l => rows.filter(_._1 == l).map(_._3).sum)
      val v = rows.map(_._2).distinct.length
      val lnNum = rows.groupBy(_._2).map { case (g, rs) =>
        g -> labels.map(l => rs.find(_._1 == l)
          .map(r => math.log((r._3 + 1L).toDouble)).getOrElse(0.0))
      }
      val lnDen = totals.map(t0 => math.log((t0 + v).toDouble))
      def reference(text: String): Option[(String, Double)] = {
        val low = text.toLowerCase
        val grams = low.sliding(2).filter(_.length == 2).toSeq
        if (grams.isEmpty) return None
        val acc = Array.fill(labels.length)(0.0)
        grams.foreach(g => lnNum.get(g).foreach { vec =>
          var j = 0; while (j < acc.length) { acc(j) += vec(j); j += 1 } })
        var best = 0; var bs = acc(0) - grams.length * lnDen(0)
        for (j <- 1 until labels.length) {
          val s = acc(j) - grams.length * lnDen(j)
          if (s >= bs) { best = j; bs = s }
        }
        Some((labels(best), math.rint(bs * 1e4) / 1e4))
      }
      val docs = ((1 to 10).map { i =>
        val pool = pools(rnd.nextInt(pools.length))
        (i.toLong, (1 to (1 + rnd.nextInt(4))).map(_ => word(pool)).mkString(" "))
      } :+ (99L, "zz99")).toDF("doc_id", "text") // out-of-vocab doc too
      val got = LangClassifyTransform(docs, t("lang_classify",
        "textColumn" -> "text", "modelView" -> s"lm_prop_$round",
        "scoreColumn" -> "s"), ctx)
        .select("doc_id", "text", "lang_pred", "s").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
      got.foreach { case (id, text, pred, score) =>
        withClue(s"round $round doc $id '$text': ") {
          reference(text) match {
            case None => pred shouldBe "und"
            case Some((expLabel, expScore)) =>
              pred shouldBe expLabel
              score shouldBe Some(expScore)
          }
        }
      }
    }
  }

  test("plan shape: classify is ONE zero-shuffle codegen'd projection — no exchange, no join, no generate") {
    trainStore().createOrReplaceTempView("lm_plan")
    // a LOCAL relation would constant-fold the whole projection away
    // (ConvertToLocalRelation) — plant the docs behind a parquet scan
    val dir = tmpDir("lmplan")
    Seq((1L, "tenth then net"), (2L, "γαμμα αλφα")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val out = LangClassifyTransform(docs,
      t("lang_classify", "textColumn" -> "text",
        "modelView" -> "lm_plan", "scoreColumn" -> "lang_score"), ctx)
    val plan = out.queryExecution.executedPlan.toString
    // the model rides as a reference object: classifying 100 TB costs
    // exactly one scan — the first implementation's explode + two
    // aggregations + join-back must never come back
    plan should not include "Exchange"
    plan should not include "Join"
    plan should not include "Generate"
    plan should include ("lang_scores") // the native expression, codegen'd
  }
}
