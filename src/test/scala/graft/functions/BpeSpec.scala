package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.api.ConfigException
import graft.functions.expressions.BpeEncode
import graft.text.Bpe

/** The BPE tokenizer core: golden train/encode values (independently
  * re-derived by tools/gen_golden_bpe.py — a from-the-paper Python
  * implementation, not a port), the UTF-8 tie-break and surrogate-pair
  * contracts, the greedy-equals-replay property, the memo cap, and the
  * loud-store loadMerges contract. */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  // the classic subword-paper word mixture; goldens from gen_golden_bpe.py
  private val corpus =
    Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
  private val goldenMerges = Seq(
    ("e", "s"), ("es", "t"), ("est", "</w>"),
    ("l", "o"), ("lo", "w"), ("e", "w"))

  test("train reproduces the independently-derived golden merges, in order") {
    Bpe.train(corpus, numMerges = 6) shouldBe goldenMerges
    // input order must not matter (the determinism contract)
    Bpe.train(corpus.reverse, numMerges = 6) shouldBe goldenMerges
    // truncation: fewer merges = a prefix, never a different order
    Bpe.train(corpus, numMerges = 3) shouldBe goldenMerges.take(3)
  }

  test("encodeWord matches the golden segmentations, including unseen words") {
    val rank = Bpe.ranks(goldenMerges)
    Bpe.encodeWord("lowest", rank).toSeq shouldBe Seq("low", "est</w>")
    Bpe.encodeWord("low", rank).toSeq shouldBe Seq("low", "</w>")
    Bpe.encodeWord("newest", rank).toSeq shouldBe Seq("n", "ew", "est</w>")
    Bpe.encodeWord("wider", rank).toSeq shouldBe
      Seq("w", "i", "d", "e", "r", "</w>")
    Bpe.encode("low lowest  newest", rank).toSeq shouldBe
      Seq("low", "</w>", "low", "est</w>", "n", "ew", "est</w>")
  }

  test("tie-break is UTF-8 byte order, which disagrees with UTF-16 order " +
    "between non-BMP and U+E000..U+FFFF") {
    // "" < "𐀀" (U+10000) in code-point/UTF-8 order, but
    // Java String.compareTo says the OPPOSITE (surrogate D800 < E000)
    "".compareTo("𐀀") should be > 0 // the trap exists
    val words = Seq(("x", 2L), ("𐀀x", 2L))
    // (x,</w>) count 4 merges first; then (,x</w>) ties
    // (𐀀,x</w>) at 2 and must win under UTF-8 order
    Bpe.train(words, numMerges = 2, minCount = 2) shouldBe
      Seq(("x", "</w>"), ("", "x</w>"))
  }

  test("a surrogate pair is ONE symbol, and encoding round-trips it") {
    Bpe.wordSymbols("a𐀀b").toSeq shouldBe
      Seq("a", "𐀀", "b", "</w>")
    val rank = Bpe.ranks(Seq(("a", "𐀀")))
    Bpe.encodeWord("a𐀀b", rank).toSeq shouldBe
      Seq("a𐀀", "b", "</w>")
  }

  test("minCount stops training: a pair below it never merges") {
    Bpe.train(Seq(("ab", 1L)), numMerges = 5, minCount = 2) shouldBe Nil
    Bpe.train(Seq(("ab", 1L)), numMerges = 5, minCount = 1) should not be empty
    // and the stop is mid-stream, not just at the start: the tail pairs
    // of a Zipf-ish table fall below minCount after the head merges
    val m = Bpe.train(Seq(("aaaa", 9L), ("bc", 1L)), numMerges = 10, minCount = 2)
    m.foreach { case (l, r) => (l + r) should not include "bc" }
  }

  test("property: greedy encode equals replaying the trained merges in " +
    "rank order, and always round-trips the word (seeded random corpora)") {
    def replay(word: String, merges: Seq[(String, String)]): Seq[String] = {
      var s = Bpe.wordSymbols(word).toSeq
      merges.foreach { case (l, r) =>
        val out = Seq.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { out += (l + r); i += 2 }
          else { out += s(i); i += 1 }
        }
        s = out.result()
      }
      s
    }
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { _ =>
      val words = (1 to 12).map { _ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }.distinct
      val counts = words.map(w => (w, 1L + rnd.nextInt(9)))
      val merges = Bpe.train(counts, numMerges = 8, minCount = 2)
      val rank = Bpe.ranks(merges)
      (words ++ Seq("abc", "ccc", "ba")).foreach { w =>
        val enc = Bpe.encodeWord(w, rank).toSeq
        withClue(s"word $w merges $merges: ") {
          enc shouldBe replay(w, merges)
          enc.mkString shouldBe (w + "</w>")
        }
      }
    }
  }

  test("BpeEncode expression encodes through codegen and respects the memo cap") {
    val df = Seq("low lowest", "newest newest", "low", "  ", "wider low")
      .toDF("text")
    val out = df.select(
        BpeEncode(col("text"), goldenMerges).as("toks"),
        BpeEncode.count(col("text"), goldenMerges).as("n"))
      .as[(Seq[String], Int)].collect()
    out(0)._1 shouldBe Seq("low", "</w>", "low", "est</w>")
    out(1)._1 shouldBe Seq("n", "ew", "est</w>", "n", "ew", "est</w>")
    out(3)._1 shouldBe Nil // blank text → zero tokens, not [""]
    out.foreach { case (t, n) => n shouldBe t.size }
    // a full memo (cap 1) must not change results — new words just skip it
    val capped = org.apache.spark.sql.GraftBridge.column(
      BpeEncode(org.apache.spark.sql.GraftBridge.expression(col("text")),
        goldenMerges, memoMax = 1))
    df.select(capped.as("toks")).as[Seq[String]].collect().toSeq shouldBe
      out.map(_._1).toSeq
    // null-safe: null text encodes to null, not an NPE
    Seq[Option[String]](Some("low"), None).toDF("text")
      .select(BpeEncode(col("text"), goldenMerges))
      .collect().map(_.isNullAt(0)).toSeq shouldBe Seq(false, true)
  }

  test("mergesFrame persists the stamped store and loadMerges round-trips it") {
    val docs = Seq("low low low low low lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest").toDF("text")
    val store = Bpe.mergesFrame(docs, "text", numMerges = 6, maxWords = 100)
    val dir = tmpDir("bpe-store")
    store.write.mode("overwrite").parquet(dir)
    val loaded = spark.read.parquet(dir)
    Bpe.loadMerges(loaded) shouldBe goldenMerges
    Bpe.loadMerges(loaded, wantNumMerges = Some(6), wantMinCount = Some(2L)) shouldBe
      goldenMerges
  }

  test("loadMerges fails LOUDLY on every malformed-store shape") {
    val docs = Seq("low low low low low lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest").toDF("text")
    val store = Bpe.mergesFrame(docs, "text", numMerges = 6, maxWords = 100)

    val missing = intercept[ConfigException] {
      Bpe.loadMerges(store.drop("bpe_rows"))
    }
    missing.getMessage should include ("bpe_rows")

    val mixed = intercept[ConfigException] {
      Bpe.loadMerges(store.union(
        Bpe.mergesFrame(docs, "text", numMerges = 3, maxWords = 100)))
    }
    mixed.getMessage should include ("mixed")

    val mismatch = intercept[ConfigException] {
      Bpe.loadMerges(store, wantNumMerges = Some(99))
    }
    mismatch.getMessage should include ("numMerges 99")

    val lostTail = intercept[ConfigException] {
      Bpe.loadMerges(store.where(col("merge_rank") < 4))
    }
    lostTail.getMessage should include ("lost or grew rows")

    val hole = intercept[ConfigException] {
      // spread ranks: count stamp still matches, but the sequence has
      // holes — the dense-sequence check must catch it
      Bpe.loadMerges(store.withColumn("merge_rank", col("merge_rank") * 2))
    }
    hole.getMessage should include ("dense")
  }

  // goldens from gen_golden_bpe.py's vocab(): <unk>=0, alphabet in UTF-8
  // order, merge products in merge order
  private val goldenVocab = Vector("<unk>", "</w>", "d", "e", "i", "l", "n",
    "o", "r", "s", "t", "w", "es", "est", "est</w>", "lo", "low", "ew")

  test("loadVocab assigns the independently-derived golden token ids") {
    val docs = Seq("low low low low low lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest").toDF("text")
    val store = Bpe.mergesFrame(docs, "text", numMerges = 6, maxWords = 100)
    Bpe.loadVocab(store) shouldBe goldenVocab
    // the (token_id, token) frame is the same assignment
    Bpe.vocabFrame(store).orderBy("token_id")
      .as[(Int, String)].collect().toSeq shouldBe
      goldenVocab.zipWithIndex.map { case (t, i) => (i, t) }
    // a duplicate merge PRODUCT keeps its first id and is skipped once:
    // hand-build a store where ranks 1 and 2 both produce "ab"
    import org.apache.spark.sql.functions.{lit => l}
    val dup = spark.createDataFrame(Seq(
        ("alpha", 0, "</w>", null: String), ("alpha", 1, "a", null: String),
        ("alpha", 2, "b", null: String), ("alpha", 3, "c", null: String),
        ("merge", 0, "b", "c"), ("merge", 1, "a", "b"), ("merge", 2, "ab", "")))
      .toDF("kind", "merge_rank", "lhs", "rhs")
      .withColumn("bpe_num_merges", l(3)).withColumn("bpe_min_count", l(2L))
      .withColumn("bpe_max_words", l(10)).withColumn("bpe_rows", l(3))
      .withColumn("bpe_alpha_rows", l(4))
      .withColumn("bpe_escape_version", l(Bpe.EscapeVersion))
    // merge 1 makes "ab"; merge 2 ("ab" + "") makes "ab" again → skipped
    Bpe.loadVocab(dup) shouldBe
      Vector("<unk>", "</w>", "a", "b", "c", "bc", "ab")
  }

  test("a store without the escape-version stamp (trained before marker " +
    "escaping existed) is refused with rebuild guidance, as is a stamp " +
    "from a different escaping scheme") {
    val docs = Seq("low low lower").toDF("text")
    val store = Bpe.mergesFrame(docs, "text", numMerges = 2, maxWords = 10)
    // current stores carry the stamp and load fine
    store.select("bpe_escape_version").distinct().collect()
      .map(_.getInt(0)).toSeq shouldBe Seq(Bpe.EscapeVersion)
    Bpe.loadMerges(store) should not be empty
    // version 0 = the stamp column is absent (pre-escaping store)
    val v0 = store.drop("bpe_escape_version")
    val e0 = intercept[graft.api.ConfigException] { Bpe.loadMerges(v0) }
    e0.getMessage should include("escape-version stamp 0")
    e0.getMessage should include("rebuild")
    // a future/foreign escaping scheme is refused the same way
    import org.apache.spark.sql.functions.{lit => l}
    val v9 = store.withColumn("bpe_escape_version", l(9))
    val e9 = intercept[graft.api.ConfigException] { Bpe.loadMerges(v9) }
    e9.getMessage should include("escape-version stamp 9")
  }

  test("BpeEncodeIds emits the golden id arrays; out-of-vocabulary " +
    "symbols map to <unk>=0; ids always mirror the string tokens") {
    import graft.functions.expressions.BpeEncodeIds
    val df = Seq("low lowest", "newest", "zap", "  ").toDF("text")
    val out = df.select(
        BpeEncodeIds(col("text"), goldenMerges, goldenVocab).as("ids"),
        BpeEncode(col("text"), goldenMerges).as("toks"))
      .as[(Seq[Int], Seq[String])].collect()
    out(0)._1 shouldBe Seq(16, 1, 16, 14)      // low </w> low est</w>
    out(1)._1 shouldBe Seq(6, 17, 14)          // n ew est</w>
    out(2)._1 shouldBe Seq(0, 0, 0, 1)         // z a p unseen → <unk>; </w> known
    out(3)._1 shouldBe Nil                     // blank → zero ids
    // the mirror property on every row: ids == tokens mapped through vocab
    val idOf = goldenVocab.zipWithIndex.toMap
    out.foreach { case (ids, toks) =>
      ids shouldBe toks.map(t => idOf.getOrElse(t, 0))
    }
    // null-safe
    Seq[Option[String]](Some("low"), None).toDF("text")
      .select(BpeEncodeIds(col("text"), goldenMerges, goldenVocab))
      .collect().map(_.isNullAt(0)).toSeq shouldBe Seq(false, true)
  }

  test("property: token ids round-trip through the vocab for EVERY corpus " +
    "word at any merge depth, and out-of-alphabet symbols map to <unk> " +
    "(seeded random corpora)") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val words = (1 to 10).map { _ =>
        (1 to (1 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      }.distinct
      val docs = words.flatMap(w => Seq.fill(1 + rnd.nextInt(3))(w)).mkString(" ")
      val store = Bpe.mergesFrame(Seq(docs).toDF("text"), "text",
        numMerges = rnd.nextInt(10), maxWords = 100)
      val loaded = Bpe.load(store)
      val (merges, vocab) = (loaded.merges, loaded.vocab)
      val rank = Bpe.ranks(merges)
      vocab.head shouldBe Bpe.Unk
      vocab.distinct.size shouldBe vocab.size // ids are unique
      val idOf = vocab.zipWithIndex.toMap
      (words ++ Seq("zz", "xyzz")).foreach { w =>
        val toks = Bpe.encodeWord(w, rank).toSeq
        val ids = toks.map(t => idOf.getOrElse(t, 0))
        if (words.contains(w)) withClue(s"word $w, merges $merges: ") {
          // alphabet completeness: NO corpus word may lose information —
          // every emitted token holds an id and the ids detokenize back
          ids should not contain 0
          ids.map(vocab(_)).mkString shouldBe (w + "</w>")
        }
        // characters outside the a..d training alphabet map to <unk>
        if (w.exists(c => c > 'd')) ids should contain (0)
      }
    }
  }

  test("marker escaping: the </w+> family gains a w at pre-tokenization, " +
    "unescape inverts it, and the escaped stream never holds the marker") {
    // goldens across the family boundary
    Bpe.escapeMarkers("x</w>y") shouldBe "x</ww>y"
    Bpe.escapeMarkers("x</ww>y") shouldBe "x</www>y"
    Bpe.escapeMarkers("</w></w>") shouldBe "</ww></ww>"
    Bpe.escapeMarkers("plain") shouldBe "plain"
    Bpe.escapeMarkers("</W>") shouldBe "</W>"   // case-sensitive: not the marker
    Bpe.escapeMarkers("</wb>") shouldBe "</wb>" // not in the family
    Bpe.escapeMarkers("x</w") shouldBe "x</w"   // unterminated: untouched
    Bpe.unescapeMarkers("x</ww>y") shouldBe "x</w>y"
    Bpe.unescapeMarkers("x</www>y") shouldBe "x</ww>y"
    // words() applies it per word
    Bpe.words("a</w>b c").toSeq shouldBe Seq("a</ww>b", "c")
    // property: unescape(escape(s)) == s, and escape(s) never contains the
    // exact marker, over adversarial marker-dense strings
    val rng = new scala.util.Random(20260816)
    val pieces = Array("</w>", "</ww>", "</wwww>", "<", ">", "/", "w", "a",
      "</", "w>", "</w", " x ")
    (1 to 300).foreach { _ =>
      val s = (1 to rng.nextInt(8)).map(_ => pieces(rng.nextInt(pieces.length))).mkString
      val e = Bpe.escapeMarkers(s)
      withClue(s"input '$s' escaped '$e': ") {
        Bpe.unescapeMarkers(e) shouldBe s
        // the escaped form never contains the exact marker UNLESS the raw
        // adjacency "</" + "w>" (etc.) re-forms one across piece bounds —
        // escapeMarkers runs on the JOINED string, so it can't: assert flat
        e should not include Bpe.Eow
      }
    }
  }

  test("decode(encode(text)) survives literal </w> and <unk> in the text " +
    "— the marker-collision roundtrip, through the real expressions") {
    import graft.functions.expressions.{BpeEncodeIds, BpeDecodeIds}
    // a corpus dense in the exact marker, its escaped sibling, and <unk>;
    // deep numMerges so training fully re-merges the literals (the
    // adversarial case: vocab gains marker-spelling and <unk>-spelling
    // products)
    val docs = Seq(
      "the tag </w> closes a word",
      "escaped </ww> and deeper </www> variants",
      "an <unk> literal and another <unk>",
      "</w></w> adjacent markers",
      "plain text with no markup").toDF("text")
    val store = Bpe.mergesFrame(docs, "text", numMerges = 400,
      maxWords = 1000, minCount = 1L)
    val loaded = Bpe.load(store)
    // the adversarial premise holds: training fully re-merged the ESCAPED
    // literals, so vocab tokens carry `</ww…` strings — the tokens that,
    // without escaping, would have spelled the exact marker and been eaten
    // by decode's textual replace
    loaded.vocab.exists(_.contains("</ww")) shouldBe true
    val out = docs
      .withColumn("ids", BpeEncodeIds(col("text"), loaded))
      .withColumn("rt", BpeDecodeIds(col("ids"), loaded))
      .select("text", "rt").as[(String, String)].collect()
    out.foreach { case (text, rt) =>
      rt shouldBe text.trim.split("\\s+").mkString(" ")
    }
    // same under byteFallback (markers + unseen codepoints together)
    val fbStore = Bpe.mergesFrame(docs, "text", numMerges = 20,
      maxWords = 1000, minCount = 1L, byteFallback = true)
    val fb = Bpe.load(fbStore)
    val unseen = Seq("漢字 </w> mixed", "<unk> 中 </ww>").toDF("text")
    val fbOut = unseen
      .withColumn("ids", BpeEncodeIds(col("text"), fb))
      .withColumn("rt", BpeDecodeIds(col("ids"), fb))
      .select("text", "rt").as[(String, String)].collect()
    fbOut.foreach { case (text, rt) =>
      rt shouldBe text.trim.split("\\s+").mkString(" ")
    }
  }

  test("train stops when the pair supply dries up and the store stamps the " +
    "PRODUCED count, which can be below numMerges") {
    val docs = Seq("aa aa aa").toDF("text")
    val store = Bpe.mergesFrame(docs, "text", numMerges = 50, maxWords = 10)
    val mergeRows = store.where(col("kind") === "merge").collect()
    mergeRows.length should be < 50
    store.collect().foreach(_.getAs[Int]("bpe_rows") shouldBe mergeRows.length)
    Bpe.loadMerges(store).length shouldBe mergeRows.length
    // the alphabet rides beside the merges: {a, </w>}, UTF-8 order
    val alphaRows = store.where(col("kind") === "alpha")
      .orderBy("merge_rank").collect()
    alphaRows.map(_.getAs[String]("lhs")).toSeq shouldBe Seq("</w>", "a")
    store.collect().foreach(_.getAs[Int]("bpe_alpha_rows") shouldBe 2)
  }
}
