package graft.operators

import graft.SparkTestBase
import graft.api.{ConfigException, RunContext}
import graft.config.TransformConfig

class GopherRulesSpec extends SparkTestBase {
  import spark.implicits._

  private def ctx = RunContext(spark, "t", "r")
  private val good =
    "the quick brown fox jumps over the lazy dog and runs off to the hills " +
      "with a happy bark that echoes through the quiet valley all day long"

  private def annotate(rows: Seq[(Long, String)],
                       opts: (String, String)*): Map[Long, (Boolean, String)] = {
    val d = rows.toDF("doc_id", "text")
    GopherRulesTransform(d, TransformConfig("g", "quality_rules",
      Map("textColumn" -> "text") ++ opts.toMap), ctx)
      .selectExpr("doc_id", "gopher_keep", "coalesce(gopher_fail, 'pass')")
      .as[(Long, Boolean, String)].collect()
      .map { case (id, k, f) => id -> (k, f) }.toMap
  }

  test("each rule fires on its planted document, first-failure order") {
    val out = annotate(Seq(
      1L -> good,                                         // passes everything
      2L -> null,                                         // empty
      3L -> "   ",                                        // whitespace-only
      4L -> "too short",                                  // word_count
      5L -> good.split(" ").map(_ * 4).mkString(" "),     // mean_word_length > 10
      6L -> (good + " # # # #"),                          // symbol_ratio 4/32
      8L -> (good + "\nwell...\nmaybe...\nyes..."),       // ellipsis_lines 3/4 > 0.3
      9L -> (good.split(" ").map(_ => "123").mkString(" ")), // alpha_words
      10L -> Seq.fill(30)("zig zag").mkString(" ")        // stopwords (0 hits)
    ), "minWords" -> "10", "minStopwords" -> "2")
    out(1L) shouldBe (true, "pass")
    out(2L) shouldBe (false, "empty")
    out(3L) shouldBe (false, "empty")
    out(4L) shouldBe (false, "word_count")
    out(5L) shouldBe (false, "mean_word_length")
    out(6L) shouldBe (false, "symbol_ratio")
    out(8L) shouldBe (false, "ellipsis_lines")
    out(9L) shouldBe (false, "alpha_words")
    out(10L) shouldBe (false, "stopwords")
  }

  test("bullet_lines fires above the 0.9 fraction") {
    // 1 text line + 10 bullet lines = 10/11 ≈ 0.909 > 0.9; words stay enough
    val bullets = (1 to 10).map(i => s"- item $i point").mkString("\n")
    val out = annotate(Seq(1L -> (good + "\n" + bullets)), "minWords" -> "10")
    out(1L) shouldBe (false, "bullet_lines")
    // at 9 bullet lines (9/10 = 0.9, not >) the doc passes the bullet rule
    val nine = (1 to 9).map(i => s"- item $i point").mkString("\n")
    val out2 = annotate(Seq(1L -> (good + "\n" + nine)), "minWords" -> "10")
    out2(1L)._2 should not be "bullet_lines"
  }

  test("filter mode keeps only passing rows; thresholds overridable") {
    val d = Seq((1L, good), (2L, "too short")).toDF("doc_id", "text")
    val kept = GopherRulesTransform(d, TransformConfig("g", "quality_rules",
      Map("textColumn" -> "text", "mode" -> "filter", "minWords" -> "10")), ctx)
    kept.select("doc_id").as[Long].collect().toSeq shouldBe Seq(1L)
    // default minWords=50 rejects the 28-word good doc too
    val strict = GopherRulesTransform(d, TransformConfig("g", "quality_rules",
      Map("textColumn" -> "text", "mode" -> "filter")), ctx)
    strict.count() shouldBe 0L
  }

  test("native LineSignals / alpha / distinct-stop counts match the " +
    "regex-HOF reference forms on adversarial lines") {
    import org.apache.spark.sql.functions._
    val texts = Seq(
      "- bullet\n  * spaced bullet\n• unicode bullet\nplain",
      "ends...\nends… \n  - •\nnot.. two dots\n...",
      "", "   ", "-", "*x\n -y\n\t- tab before dash", "…", "a…",
      "ümlaut zeile\nthe and of with to", "THE AND OF", "have that be",
      null.asInstanceOf[String])
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val lines = split(col("t"), "\n")
    val toks = graft.functions.TextFunctions.tokens(col("t"))
    val ls = graft.functions.expressions.LineSignals(lines)
    val ts = graft.functions.expressions.TokenSignals(toks, Nil,
      Seq("the", "be", "to", "of", "and", "that", "have", "with"), Nil)
    val stops = array(Seq("the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)
    val cmp = df.select(
      ls.getField("bullets").as("b_n"),
      org.apache.spark.sql.functions.size(filter(lines, l => ltrim(l).rlike("^[-*•]"))).as("b_h"),
      ls.getField("ellipsis").as("e_n"),
      org.apache.spark.sql.functions.size(filter(lines, l => rtrim(l).rlike("(\\.\\.\\.|…)$"))).as("e_h"),
      ls.getField("n").as("n_n"), org.apache.spark.sql.functions.size(lines).as("n_h"),
      ts.getField("alpha").as("a_n"),
      org.apache.spark.sql.functions.size(filter(toks, w => w.rlike("[a-z]"))).as("a_h"),
      ts.getField("distinct_stop_hits").as("d_n"),
      org.apache.spark.sql.functions.size(array_intersect(toks, stops)).as("d_h"))
    cmp.where(
      "b_n IS DISTINCT FROM b_h OR e_n IS DISTINCT FROM e_h OR " +
      "n_n IS DISTINCT FROM n_h OR a_n IS DISTINCT FROM a_h OR " +
      "d_n IS DISTINCT FROM d_h").count() shouldBe 0
  }

  test("top_ngram repetition rule: OFF by default, armed by threshold; " +
    "the signal matches the published definition on planted docs") {
    import graft.functions.TextFunctions.topNgramFraction
    import org.apache.spark.sql.functions.col
    // "spam spam ... spam" (one dominant bigram) vs prose: the signal
    // separates them; dup_ngram_frac alone also fires on scattered
    // repeats, which is why the rule exists separately in Gopher
    val slogan = Seq.fill(30)("buy cheap pills now").mkString(" ")
    val d = Seq((1L, good), (2L, slogan)).toDF("doc_id", "text")
    val frac = d.select(col("doc_id"), topNgramFraction(col("text"), 2))
      .as[(Long, Double)].collect().toMap
    frac(2L) should be > 0.2
    frac(1L) should be < 0.2
    // "pills now" and "cheap pills" etc. tie at count 30 under
    // (count, length); "now buy" reaches only 29 — elected gram must be a
    // length-11 count-30 one: 330/length(normalized)
    val norm = slogan.trim.replaceAll("\\s+", " ")
    frac(2L) shouldBe BigDecimal(30.0 * 11 / norm.length)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // short/degenerate docs never read as maximally repetitive
    d.sparkSession.createDataFrame(Seq((3L, "single"), (4L, "  "))).toDF("doc_id", "text")
      .select(col("doc_id"), topNgramFraction(col("text"), 2))
      .as[(Long, Double)].collect().toMap.values.toSet shouldBe Set(0.0)
    // unarmed (default): the slogan doc passes quality_rules' other gates
    // here, so it must be KEPT; armed at Gopher's 0.2 it fails top_ngram
    val unarmed = annotate(Seq((2L, slogan)),
      "minWords" -> "5", "minStopwords" -> "0")
    unarmed(2L) shouldBe (true, "pass")
    val armed = annotate(Seq((1L, good), (2L, slogan)),
      "minWords" -> "5", "minStopwords" -> "0",
      "maxTopNgramFraction" -> "0.2")
    armed(2L) shouldBe (false, "top_ngram")
    armed(1L) shouldBe (true, "pass")
  }

  test("dup_lines / dup_line_chars rules: OFF by default, armed by " +
    "threshold; character fraction catches long-line repeats the line " +
    "fraction under-reads") {
    import graft.functions.TextFunctions.{dupLineFraction, dupLineCharFraction}
    import org.apache.spark.sql.functions.col
    // 2 repeated lines of 10 → 8 distinct short lines: line frac = 2/10,
    // but the repeated lines are LONG, so the char frac is much higher
    val longLine = "this exact licensing boilerplate paragraph repeats on every page of the site"
    val doc = (Seq(longLine) ++ (1 to 8).map(i => s"unique line $i") ++ Seq(longLine, longLine))
      .mkString("\n")
    val d = Seq((1L, doc)).toDF("doc_id", "text")
    val fr = d.select(
        dupLineFraction(col("text")).as("lf"),
        dupLineCharFraction(col("text")).as("cf"))
      .as[(Double, Double)].head()
    fr._1 shouldBe 2.0 / 11 +- 1e-4          // 2 repeats of 11 lines
    fr._2 should be > 0.4                     // but ~2.5x the line frac in CHARS
    // empty lines never participate (no dilution), paragraphs via \n\n
    d.select(dupLineFraction(col("text"), separator = "\n\n"))
      .as[Double].head() shouldBe 0.0         // one paragraph, no repeats
    Seq((2L, "a\n\n\n\na")).toDF("doc_id", "text")
      .select(dupLineFraction(col("text")))
      .as[Double].head() shouldBe 0.5         // ["a","","","","a"] → 1 dup of 2
    // unarmed: kept; armed at Gopher's 0.20 char threshold: dup_line_chars
    val base = Seq("minWords" -> "5", "minStopwords" -> "0",
      "minAlphaFraction" -> "0.5")
    annotate(Seq(1L -> doc), base: _*)(1L) shouldBe (true, "pass")
    annotate(Seq(1L -> doc),
      (base :+ ("maxDupLineCharFraction" -> "0.2")): _*)(1L) shouldBe
      (false, "dup_line_chars")
    annotate(Seq(1L -> doc),
      (base :+ ("maxDupLineFraction" -> "0.1")): _*)(1L) shouldBe
      (false, "dup_lines")
  }

  test("native TopNgramFraction matches the Column-HOF reference form " +
    "over the real corpus (n = 1, 2, 3) and encodes through codegen") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.{tokens, wordNgrams}
    // the reference spelling the native expression replaced (kept here,
    // not in the hot path: each when/getField reference re-ran the
    // interpreted HOF walk — measured 7.8 s → 0.2 s at sf0.1)
    def hofForm(text: org.apache.spark.sql.Column, n: Int) = {
      val t = tokens(text)
      val top = array_max(transform(
        graft.functions.expressions.ItemCounts(wordNgrams(text, n)),
        x => struct(x.getField("cnt").as("c"),
          org.apache.spark.sql.functions.length(x.getField("item")).cast("long").as("l"))))
      val denom = org.apache.spark.sql.functions.length(array_join(t, " ")).cast("double")
      // null-in-null-out explicitly: without the guard, least(1.0, null)
      // SKIPS the null and the reference form leaks 1.0 for null text —
      // the bug the native expression's nullSafeEval doesn't have
      when(text.isNull, lit(null).cast("double"))
        .when(org.apache.spark.sql.functions.length(
          trim(text, " \t\n\u000B\f\r")) === 0
          || org.apache.spark.sql.functions.size(t) < n, 0.0)
        .otherwise(round(least(lit(1.0),
          (top.getField("c") * top.getField("l")).cast("double")
            / greatest(denom, lit(1.0))), 4))
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where("text IS NOT NULL")
    for (n <- Seq(1, 2, 3)) {
      docs.select(
          graft.functions.TextFunctions.topNgramFraction(col("text"), n).as("a"),
          hofForm(col("text"), n).as("b"))
        .where("a IS DISTINCT FROM b").count() shouldBe 0
    }
    // adversarial edges: surrogate pairs (code-point lengths), blank,
    // null, exactly-n tokens, repeated single token
    val edge = Seq("𝔘𝔫𝔦 𝔘𝔫𝔦 x", "a b", "a a a a", " ", null.asInstanceOf[String])
      .toDF("text")
    val diff = edge.select(col("text"),
        graft.functions.TextFunctions.topNgramFraction(col("text"), 2).as("a"),
        hofForm(col("text"), 2).as("b"))
      .where("a IS DISTINCT FROM b").collect()
    withClue(diff.mkString("; ")) { diff.length shouldBe 0 }
  }

  test("zero-shuffle plan; config errors fail fast") {
    val d = Seq((1L, good)).toDF("doc_id", "text")
    val out = GopherRules.annotate(d, "text")
    out.queryExecution.executedPlan.toString should not include "Exchange"
    an[ConfigException] should be thrownBy GopherRulesTransform(
      d, TransformConfig("g", "quality_rules",
        Map("textColumn" -> "text", "mode" -> "nope")), ctx)
    an[ConfigException] should be thrownBy GopherRulesTransform(
      d, TransformConfig("g", "quality_rules",
        Map("textColumn" -> "text", "minWords" -> "abc")), ctx)
    // fractional integral thresholds are rejected, never truncated
    an[ConfigException] should be thrownBy GopherRulesTransform(
      d, TransformConfig("g", "quality_rules",
        Map("textColumn" -> "text", "minWords" -> "50.9")), ctx)
    // the staged helper name collides loudly, never overwrite-then-drop
    an[ConfigException] should be thrownBy GopherRulesTransform(
      d.withColumn("__gopher_fail0", org.apache.spark.sql.functions.lit(1)),
      TransformConfig("g", "quality_rules", Map("textColumn" -> "text")), ctx)
    GopherRulesTransform.validate(
      TransformConfig("g", "quality_rules", Map("textColumn" -> "nope")),
      d.schema) should not be empty
  }

  test("bpe_token_count rule: OFF without a store, armed by mergesView + " +
    "thresholds, tokenizer-exact, and the contradictions fail loudly") {
    import org.apache.spark.sql.functions._
    val texts = Seq((1L, "low low low lowest lowest newest"),
      (2L, good + " " + good), (3L, good))
    val corpus = texts.toDF("doc_id", "text")
    val store = graft.text.Bpe.mergesFrame(corpus, "text", numMerges = 6)
    store.createOrReplaceTempView("v_gopher_bpe")
    // exact counts from the engine's own count expression (the parity
    // surface q145 oracles independently)
    val counts = corpus.withColumn("n",
        graft.functions.expressions.BpeEncode.count(col("text"),
          graft.text.Bpe.load(store)))
      .select("doc_id", "n").as[(Long, Int)].collect().toMap
    val gate = annotate(texts,
      "mergesView" -> "v_gopher_bpe",
      "minBpeTokens" -> (counts(1L) + 1).toString, // doc 1 under the floor
      "maxBpeTokens" -> (counts(2L) - 1).toString, // doc 2 over the cap
      "minWords" -> "0", "minMeanWordLength" -> "0",
      "maxMeanWordLength" -> "100", "minAlphaFraction" -> "0",
      "minStopwords" -> "0")
    gate(1L) shouldBe ((false, "bpe_token_count"))
    gate(2L) shouldBe ((false, "bpe_token_count"))
    // doc 3 sits between the planted bounds → passes the token gate
    counts(3L) should (be > counts(1L) and be < counts(2L))
    gate(3L)._1 shouldBe true
    // guided contradictions: thresholds without a store / store unused
    an[ConfigException] should be thrownBy annotate(
      Seq((1L, good)), "minBpeTokens" -> "5")
    an[ConfigException] should be thrownBy annotate(
      Seq((1L, good)), "mergesView" -> "v_gopher_bpe")
    // annotate's staged fail column collides loudly with armed BPE too
    an[ConfigException] should be thrownBy GopherRulesTransform(
      corpus.withColumn("__gopher_fail0", lit(1)),
      TransformConfig("g", "quality_rules", Map("textColumn" -> "text",
        "mergesView" -> "v_gopher_bpe", "minBpeTokens" -> "1")), ctx)
  }

  test("fused fail chain: filter mode evaluates each signal walk once and " +
    "stays pushdown-transparent for later predicates") {
    import org.apache.spark.sql.functions._
    // parquet-backed input: a LocalRelation would be constant-folded by
    // ConvertToLocalRelation (legal now that the chain is deterministic),
    // leaving no plan to assert on
    val tmp = tmpDir("gopherpush")
    Seq((1L, good), (2L, "too short"), (3L, null: String))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(tmp)
    val d = spark.read.parquet(tmp)
    val th = GopherRules.Thresholds(minWords = 10)
    // exactly ONE token walk / line walk in the whole optimized filter
    // plan — the §4.4 duplication (14 TokenSignals in the pushed
    // predicate) and its round-17 EvalOnce pin are both gone
    val filtered = GopherRules.applyFilter(d, "text", th)
    val opt = filtered.queryExecution.optimizedPlan.toString
    withClue(opt) {
      "tokensignals".r.findAllIn(opt.toLowerCase).size shouldBe 1
      "linesignals".r.findAllIn(opt.toLowerCase).size shouldBe 1
      opt.toLowerCase.contains("evalonce") shouldBe false
    }
    filtered.select("doc_id").as[Long].collect().toSeq shouldBe Seq(1L)
    // a LATER predicate pushes through the gopher filter all the way to
    // the parquet scan (the EvalOnce barrier blocked this)
    val late = GopherRules.applyFilter(d, "text", th)
      .where(col("doc_id") < 2L)
    val plan = late.queryExecution.executedPlan.toString
    withClue(plan) {
      plan should include("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,2)]")
    }
    late.select("doc_id").as[Long].collect().toSeq shouldBe Seq(1L)
    // annotate + user filter on gopher_keep: the fused chain is a single
    // expression, so the pushed predicate carries ONE token walk (not one
    // per `when` branch as the alias-substituted chain did)
    val annotated = GopherRules.annotate(d, "text", th).where(col("gopher_keep"))
    val aopt = annotated.queryExecution.optimizedPlan.toString.toLowerCase
    withClue(aopt) {
      "tokensignals".r.findAllIn(aopt).size should be <= 2
    }
    annotated.select("doc_id").as[Long].collect().toSeq shouldBe Seq(1L)
  }

  /** `gopher_fail` per doc, evaluated twice over a parquet-backed copy
    * of `docs` (a LocalRelation would be folded by ConvertToLocalRelation
    * through the interpreted path, so both runs would interpret): once
    * through generated code only (whole-stage on, no fallback to eval),
    * once fully interpreted. Each run plans a fresh DataFrame — a
    * DataFrame caches its physical plan, so re-collecting one would
    * replay the first run's codegen decisions. */
  private def failsInBothEvalModes(docs: org.apache.spark.sql.DataFrame,
      th: GopherRules.Thresholds,
      bpeCount: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column])
      : (Set[(Long, Any)], Set[(Long, Any)]) = {
    val path = tmpDir("gopherparity")
    docs.write.mode("overwrite").parquet(path)
    def under(confs: (String, String)*): Set[(Long, Any)] = {
      val conf = spark.conf
      val old = confs.map { case (k, _) => k -> conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => conf.set(k, v) }
        GopherRules.annotate(spark.read.parquet(path), "text", th, bpeCount)
          .select("doc_id", "gopher_fail")
          .collect().map(r => (r.getLong(0), r.get(1))).toSet
      } finally old.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
    (under("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false"),
      under("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
  }

  test("fused fail chain: interpreted eval matches codegen over the " +
    "planted rule corpus") {
    val docs = Seq(
      1L -> good, 2L -> (null: String), 3L -> "   ", 4L -> "too short",
      5L -> good.split(" ").map(_ * 4).mkString(" "),
      6L -> (good + " ###### ### #"),
      7L -> good.split(" ").map("- " + _).mkString("\n"),
      8L -> good.split(" ").map(_ + "...").mkString("\n"),
      9L -> good.split(" ").map(_ => "123").mkString(" "),
      10L -> good.replaceAll("\\b(the|and|to|with)\\b", "xx"),
      11L -> (good + "\n" + (1 to 10).map(i => s"- item $i point")
        .mkString("\n")),
      12L -> (good + "\nwell...\nmaybe...\nyes..."))
      .toDF("doc_id", "text")
    // minWords = 10: at the default 50 every non-empty row (28-word base
    // doc) stops at word_count and the rest of the chain goes unchecked
    val (viaCodegen, viaInterp) =
      failsInBothEvalModes(docs, GopherRules.Thresholds(minWords = 10), None)
    viaInterp shouldBe viaCodegen
    viaCodegen.map(_._2) should contain allOf (null, "empty", "word_count",
      "mean_word_length", "symbol_ratio", "bullet_lines", "ellipsis_lines",
      "alpha_words", "stopwords")
  }

  test("fused fail chain: interpreted eval matches codegen with every " +
    "opt-in rule armed") {
    val docs = Seq(
      1L -> good, 2L -> (null: String), 3L -> "a b",
      4L -> Seq.fill(12)("foo bar").mkString(" "),
      5L -> Seq.fill(4)("one two three four").mkString("\n"),
      6L -> (Seq("w", "x", "y", "z", "v", "u").mkString("\n") + "\n" +
        Seq.fill(2)("a much longer line that repeats once").mkString("\n")))
      .toDF("doc_id", "text")
    val store = graft.text.Bpe.mergesFrame(docs.na.drop(), "text",
      numMerges = 6)
    val loaded = graft.text.Bpe.load(store)
    val bpe = Some((c: org.apache.spark.sql.Column) =>
      graft.functions.expressions.BpeEncode.count(c, loaded))
    val counts = docs.na.drop()
      .withColumn("n", bpe.get(org.apache.spark.sql.functions.col("text")))
      .select("doc_id", "n").as[(Long, Int)].collect().toMap
    // doc 3 under the floor, the longest doc over the cap
    val (minBpe, maxBpe) = (counts(3L) + 1L, counts.values.max - 1L)
    // every default rule relaxed so each armed gate can be the first hit
    val lax = GopherRules.Thresholds(minWords = 0, minMeanWordLength = 0,
      maxMeanWordLength = 100, minAlphaFraction = 0, minStopwords = 0)
    val armed = Seq(
      lax.copy(minBpeTokens = minBpe, maxBpeTokens = maxBpe) -> bpe,
      lax.copy(maxTopNgramFraction = 0.2, topNgramSize = 2) -> None,
      lax.copy(maxDupLineFraction = 0.3) -> None,
      lax.copy(maxDupLineCharFraction = 0.2) -> None,
      lax.copy(minBpeTokens = minBpe, maxBpeTokens = maxBpe,
        maxTopNgramFraction = 0.2, maxDupLineFraction = 0.3,
        maxDupLineCharFraction = 0.2) -> bpe)
    val fired = armed.flatMap { case (th, count) =>
      val (viaCodegen, viaInterp) = failsInBothEvalModes(docs, th, count)
      withClue(th) { viaInterp shouldBe viaCodegen }
      viaCodegen.map(_._2)
    }.toSet
    fired should contain allOf ("bpe_token_count", "top_ngram", "dup_lines",
      "dup_line_chars")
  }
}
