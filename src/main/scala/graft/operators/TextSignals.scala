package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext}
import graft.config.TransformConfig

/**
 * text_signals — append per-document text-analysis signal columns from the
 * [[graft.functions.TextFunctions]] suite: the first half of the canonical
 * curation shape (score every document, then `filter` on thresholds). All
 * signals are per-row Column compositions — ONE projection, zero shuffle,
 * no UDFs, inside whole-stage codegen — so scoring 100 TB costs exactly
 * one scan.
 *
 * {{{
 * - name: score
 *   type: text_signals
 *   options: {textColumn: text, signals: "tokens,quality,lang,dup_words"}
 * - name: keep-good
 *   type: filter
 *   options: {condition: "quality_score > 0.5 AND dup_word_frac < 0.3"}
 * }}}
 *
 * Store-backed upgrades (same one-pass zero-shuffle shape, loaded only
 * when their signal is selected — set-but-unused fails): `mergesView`
 * makes `bpe_tokens` tokenizer-exact; `langModelView` (a registered
 * `chargram_lm` store) makes `lang` the TRAINED per-label prediction
 * instead of the fixed 5-language stopword heuristic.
 */
object TextSignalsTransform extends BpeStoreReader {
  val transformType = "text_signals"
  private val TextColumn = Opt.column("textColumn").required
  private val NgramSize = Opt.int("ngramSize").default(2)
  private val Signals = Opt.parsed("signals")(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  protected val mergesView = Opt.view("mergesView")
  private val LangModelView = Opt.view("langModelView")

  import graft.functions.TextFunctions._
  /** signal name → (output column, builder). */
  private def builders(ngramSize: Int): Seq[(String, String, Column => Column)] = Seq(
    ("tokens",         "n_tokens",       tokenCount _),
    ("bpe_tokens",     "n_bpe_tokens",   bpeTokenCount _),
    ("chars",          "n_chars",        (c: Column) => coalesce(length(c), lit(0))),
    ("punct_ratio",    "punct_ratio",    punctRatio _),
    ("stopword_ratio", "stopword_ratio", stopwordRatio _),
    ("quality",        "quality_score",  qualityScore _),
    ("lang",           "lang_pred",      langId _),
    ("fingerprint",    "fingerprint",    fingerprint _),
    ("dup_words",      "dup_word_frac",  dupWordFraction _),
    ("dup_ngrams",     "dup_ngram_frac", (c: Column) => dupNgramFraction(c, ngramSize)),
    ("top_ngrams",     "top_ngram_frac", (c: Column) => topNgramFraction(c, ngramSize)),
    ("dup_lines",      "dup_line_frac",  (c: Column) => dupLineFraction(c)),
    ("dup_line_chars", "dup_line_char_frac", (c: Column) => dupLineCharFraction(c)))

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val text = col(TextColumn(config))
    val all = builders(NgramSize(config))
    val picked0 = Signals.get(config) match {
      case None => all
      case Some(names) =>
        val known = all.map(_._1).toSet
        val bad = names.filterNot(known)
        if (bad.nonEmpty) throw new ConfigException(
          s"text_signals: unknown signal(s) ${bad.mkString(", ")} " +
            s"(available: ${all.map(_._1).mkString(", ")})")
        names.map(nm => all.find(_._1 == nm).get)
    }
    // `mergesView` (a registered bpe_train store) upgrades the bpe_tokens
    // signal from the regex-proxy estimate to the TOKENIZER-EXACT count —
    // still one zero-shuffle projection (the codegen'd BpeEncode
    // expression), so the one-pass signal shape is unchanged. The store is
    // loaded only AFTER the signal pick: set-but-unused would otherwise
    // silently pay a driver-side store read for nothing — that's a config
    // contradiction, so it fails with a guided error instead.
    val picked1 =
      if (!mergesView.isSet(config)) picked0
      else {
        if (!picked0.exists(_._1 == "bpe_tokens")) throw new ConfigException(
          "text_signals: mergesView is set but the bpe_tokens signal is " +
            "not selected — the store would be loaded and never used; add " +
            "bpe_tokens to `signals` or drop mergesView")
        val loaded = loadedStore(config, ctx)
        val exact = (c: Column) =>
          graft.functions.expressions.BpeEncode.count(c, loaded)
        picked0.map {
          case ("bpe_tokens", out, _) => ("bpe_tokens", out, exact)
          case other => other
        }
      }
    // `langModelView` (a registered chargram_lm store) upgrades the lang
    // signal from the fixed 5-language stopword heuristic to the TRAINED
    // per-label model — still one zero-shuffle projection (the codegen'd
    // LangScores expression), same lang_pred column, 'und' for gram-less
    // docs. Same set-but-unused discipline as mergesView.
    val picked =
      if (!LangModelView.isSet(config)) picked1
      else {
        if (!picked1.exists(_._1 == "lang")) throw new ConfigException(
          "text_signals: langModelView is set but the lang signal is not " +
            "selected — the store would be loaded and never used; add " +
            "lang to `signals` or drop langModelView")
        val lm = graft.text.ChargramLm.load(LangModelView.table(config, ctx.spark))
        val trained = (c: Column) => coalesce(
          graft.functions.expressions.LangScores(c, lm.model, lm.n)
            .getField("label"),
          lit("und"))
        picked1.map {
          case ("lang", out, _) => ("lang", out, trained)
          case other => other
        }
      }
    picked.foldLeft(input) { case (df, (_, out, build)) =>
      df.withColumn(out, build(text))
    }
  }
}
