package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext}
import graft.config.TransformConfig
import graft.functions.TextFunctions

/**
 * Gopher-style document quality rules (Rae et al. 2021, "Scaling Language
 * Models: Methods, Analysis & Insights from Training Gopher", §A1.1 — the
 * published heuristic filter suite most open LLM corpora start from).
 * Every rule is a pure per-row Column composition over the same
 * whitespace tokenization as [[graft.functions.TextFunctions.tokens]]:
 * one projection, zero shuffle, whole-stage codegen — rule-checking
 * 100 TB costs exactly one scan, and composes with `filter` exactly like
 * `text_signals`.
 *
 * Rules, in evaluation order (the reported failure is the FIRST hit):
 *   empty            null or whitespace-only text
 *   word_count       tokens outside [minWords, maxWords]
 *   mean_word_length outside [minMeanWordLength, maxMeanWordLength]
 *   symbol_ratio     (# of `#` marks and `...`/`…` ellipses) / words above max
 *   bullet_lines     fraction of lines starting with -, * or • above max
 *   ellipsis_lines   fraction of lines ending with `...`/`…` above max
 *   alpha_words      fraction of tokens containing a letter below min
 *   stopwords        fewer DISTINCT hits than minStopwords from the fixed
 *                    Gopher set {the, be, to, of, and, that, have, with}
 *   bpe_token_count  tokenizer-exact BPE token count outside
 *                    [minBpeTokens, maxBpeTokens] (OPT-IN — requires a
 *                    registered `mergesView` tokenizer store; the
 *                    token-budget gate a training pipeline applies in
 *                    REAL tokenizer tokens, not the word proxy)
 *   top_ngram        top n-gram character fraction above max (OPT-IN —
 *                    the default threshold 1.0 can never fire; Gopher
 *                    arms it at n ∈ {2,3,4} with 0.20/0.18/0.16)
 *   dup_lines        duplicate line fraction above max (OPT-IN; Gopher
 *                    arms it at 0.30)
 *   dup_line_chars   duplicate line character fraction above max
 *                    (OPT-IN; Gopher arms it at 0.20)
 */
object GopherRules {

  private val gopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  final case class Thresholds(
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanWordLength: Double = 3.0, maxMeanWordLength: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFraction: Double = 0.9,
      maxEllipsisFraction: Double = 0.3, minAlphaFraction: Double = 0.8,
      minStopwords: Int = 2,
      // top_ngrams is OPT-IN (the fraction caps at 1.0, so the 1.0
      // default can never fire): Gopher applies it at n ∈ {2,3,4} with
      // 0.20/0.18/0.16 — set maxTopNgramFraction (+ topNgramSize) to arm
      maxTopNgramFraction: Double = 1.0, topNgramSize: Int = 2,
      // dup-line gates are OPT-IN too (a first occurrence is never a
      // duplicate, so the fractions are strictly < 1 and the 1.0
      // defaults can never fire); Gopher arms them at 0.30 / 0.20
      maxDupLineFraction: Double = 1.0, maxDupLineCharFraction: Double = 1.0,
      // OPT-IN tokenizer-exact token budget: only meaningful with a
      // mergesView store (annotate/applyFilter's bpeCount), and the
      // defaults can never fire
      minBpeTokens: Long = 0L, maxBpeTokens: Long = Long.MaxValue)

  /** The whole first-failing-rule chain as ONE deterministic expression
    * ([[graft.functions.expressions.GopherFail]]). History of this shape
    * (optimization-guide §4.4): the chain references each single-pass
    * signal struct ([[graft.functions.expressions.TokenSignals]] /
    * [[graft.functions.expressions.LineSignals]]) in several `when`
    * branches; staged helper columns kept the walks single-eval in
    * annotate mode, but `PushPredicateThroughNonJoin` re-inlined them
    * into filter mode's pushed keep-predicate (measured: 14 TokenSignals
    * per row, 3.3× the annotate cost), and the round-17 non-deterministic
    * pin (`EvalOnce`) that stopped the re-inlining also blocked every
    * LATER predicate from pushing past the gopher stage to the scan.
    * Fused, each walk is a child expression evaluated at most once per
    * row, the chain short-circuits in rule order (a doc failing
    * word_count never pays the BPE encode), and the expression is
    * honestly deterministic — pushdown-transparent in both directions.
    * The composable filter-lambda forms (a regex per token/line,
    * interpreted) remain in GopherRulesSpec as the parity reference. */
  private def failExpr(textCol: String, th: Thresholds,
                       bpeCount: Option[Column => Column]): Column = {
    val text = col(textCol)
    graft.functions.expressions.GopherFail.column(
      empty = text.isNull || (length(trim(text)) === 0),
      ts = graft.functions.expressions.TokenSignals(
        TextFunctions.tokens(text), Nil, gopherStopwords, Nil,
        withFingerprint = false),
      sym = regexp_count(text, lit("#|\\.\\.\\.|…")),
      ls = graft.functions.expressions.LineSignals(split(text, "\n")),
      bpe = bpeCount.map(cnt => coalesce(cnt(text).cast("long"), lit(0L))),
      // repetition gates only exist when ARMED: their fractions cannot
      // exceed (top_ngram) or reach (dup_line*) the 1.0 defaults, and an
      // armed-but-never-firing child would still make every unarmed run
      // pay the per-row n-gram/line walks
      topNgram = if (th.maxTopNgramFraction < 1.0)
        Some(TextFunctions.topNgramFraction(text, th.topNgramSize)) else None,
      dupLine = if (th.maxDupLineFraction < 1.0)
        Some(TextFunctions.dupLineFraction(text)) else None,
      dupLineChar = if (th.maxDupLineCharFraction < 1.0)
        Some(TextFunctions.dupLineCharFraction(text)) else None,
      minWords = th.minWords, maxWords = th.maxWords,
      minMeanWordLength = th.minMeanWordLength,
      maxMeanWordLength = th.maxMeanWordLength,
      maxSymbolRatio = th.maxSymbolRatio,
      maxBulletFraction = th.maxBulletFraction,
      maxEllipsisFraction = th.maxEllipsisFraction,
      minAlphaFraction = th.minAlphaFraction,
      minStopwords = th.minStopwords,
      minBpeTokens = th.minBpeTokens, maxBpeTokens = th.maxBpeTokens,
      maxTopNgramFraction = th.maxTopNgramFraction,
      maxDupLineFraction = th.maxDupLineFraction,
      maxDupLineCharFraction = th.maxDupLineCharFraction)
  }

  /** Annotate: append `gopher_keep` + `gopher_fail` (first failing rule).
    * `bpeCount` (a tokenizer-exact count builder, from a registered
    * mergesView store) arms the opt-in `bpe_token_count` rule. The fused
    * fail expression is staged once as a helper column (CollapseProject
    * keeps non-cheap multiply-referenced aliases staged), so keep + fail
    * share one evaluation per row. */
  def annotate(df: DataFrame, textCol: String,
               th: Thresholds = Thresholds(),
               bpeCount: Option[Column => Column] = None): DataFrame = {
    // the staged helper name is fixed — a same-named input column would
    // be silently overwritten then dropped (the repo-standard guard)
    graft.config.ExprUtils.requireNoHelperCollision("quality_rules",
      df.columns, "__gopher_fail0")
    df.withColumn("__gopher_fail0", failExpr(textCol, th, bpeCount))
      .withColumn("gopher_keep", col("__gopher_fail0").isNull)
      .withColumn("gopher_fail", col("__gopher_fail0"))
      .drop("__gopher_fail0")
  }

  /** Filter: keep only rows passing every rule — one deterministic
    * predicate over the fused fail chain, no helper columns at all, so
    * the optimizer can push it toward the scan and push every later
    * predicate past it. */
  def applyFilter(df: DataFrame, textCol: String,
                  th: Thresholds = Thresholds(),
                  bpeCount: Option[Column => Column] = None): DataFrame =
    df.where(failExpr(textCol, th, bpeCount).isNull)
}

/**
 * quality_rules — declarative Gopher-rule quality gate.
 *
 * {{{
 * - name: gate
 *   type: quality_rules
 *   options: {textColumn: text, mode: filter, minWords: "50"}
 * }}}
 *
 * `mode: annotate (default) | filter`; every threshold overridable:
 * minWords/maxWords, minMeanWordLength/maxMeanWordLength, maxSymbolRatio,
 * maxBulletFraction, maxEllipsisFraction, minAlphaFraction, minStopwords,
 * maxTopNgramFraction (+ topNgramSize), maxDupLineFraction,
 * maxDupLineCharFraction (the opt-in repetition rules);
 * minBpeTokens/maxBpeTokens + `mergesView` (a registered bpe_train
 * store) arm the opt-in `bpe_token_count` rule — the token budget in
 * TOKENIZER-exact tokens, one staged zero-shuffle encode per row.
 * Setting the thresholds without the store (nothing to count with) or
 * the store without a threshold (loaded but never used) is a config
 * contradiction and fails with a guided error.
 */
object GopherRulesTransform extends BpeStoreReader {
  val transformType = "quality_rules"
  private val TextColumn = Opt.column("textColumn").required
  private val Mode = Opt.oneOf("mode", "annotate", "filter").default("annotate")
  private val MinWords = Opt.long("minWords").default(50L)
  private val MaxWords = Opt.long("maxWords").default(100000L)
  private val MinMeanWordLength = Opt.double("minMeanWordLength").default(3.0)
  private val MaxMeanWordLength = Opt.double("maxMeanWordLength").default(10.0)
  private val MaxSymbolRatio = Opt.double("maxSymbolRatio").default(0.1)
  private val MaxBulletFraction = Opt.double("maxBulletFraction").default(0.9)
  private val MaxEllipsisFraction = Opt.double("maxEllipsisFraction").default(0.3)
  private val MinAlphaFraction = Opt.double("minAlphaFraction").default(0.8)
  private val MinStopwords = Opt.int("minStopwords").default(2)
  private val MaxTopNgramFraction = Opt.double("maxTopNgramFraction").default(1.0)
  private val TopNgramSize = Opt.int("topNgramSize").default(2)
  private val MaxDupLineFraction = Opt.double("maxDupLineFraction").default(1.0)
  private val MaxDupLineCharFraction = Opt.double("maxDupLineCharFraction").default(1.0)
  // the token gate counts with the mergesView tokenizer store
  private val MinBpeTokens = Opt.long("minBpeTokens").default(0L)
  private val MaxBpeTokens = Opt.long("maxBpeTokens").default(Long.MaxValue)
  protected val mergesView = Opt.view("mergesView")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    // the declarations above, in Thresholds' field order
    val th = GopherRules.Thresholds(MinWords(config), MaxWords(config),
      MinMeanWordLength(config), MaxMeanWordLength(config), MaxSymbolRatio(config),
      MaxBulletFraction(config), MaxEllipsisFraction(config), MinAlphaFraction(config),
      MinStopwords(config), MaxTopNgramFraction(config), TopNgramSize(config),
      MaxDupLineFraction(config), MaxDupLineCharFraction(config), MinBpeTokens(config),
      MaxBpeTokens(config))
    val tokenGateArmed = MinBpeTokens.isSet(config) || MaxBpeTokens.isSet(config)
    val bpeCount: Option[Column => Column] = mergesView.get(config) match {
      case None if tokenGateArmed => throw new ConfigException(
        "quality_rules: minBpeTokens/maxBpeTokens need a mergesView " +
          "tokenizer store to count with — register the persisted " +
          "bpe_train store and set mergesView")
      case None => None
      case Some(_) if !tokenGateArmed => throw new ConfigException(
        "quality_rules: mergesView is set but neither minBpeTokens nor " +
          "maxBpeTokens is — the store would be loaded and never used; " +
          "set a token threshold or drop mergesView")
      case Some(_) =>
        val loaded = loadedStore(config, ctx)
        Some((c: Column) =>
          graft.functions.expressions.BpeEncode.count(c, loaded))
    }
    val textCol = TextColumn(config)
    if (Mode(config) == "filter") GopherRules.applyFilter(input, textCol, th, bpeCount)
    else GopherRules.annotate(input, textCol, th, bpeCount)
  }
}
