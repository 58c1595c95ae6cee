package graft.operators

import org.apache.spark.sql.DataFrame

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig
import graft.functions.TextFunctions

/**
 * Declarative reach for the corpus-level text operators (the per-document
 * signal columns live in [[TextSignalsTransform]]; these three REPLACE the
 * frame with a derived corpus/per-document stats frame, like `profile` and
 * `tfidf` do). Registering them closes the last Scala-only corner of the
 * text suite — every operator in OPERATORS.md is YAML-drivable.
 */

/**
 * vocab_topk — the corpus vocabulary: k most frequent tokens with counts,
 * deterministic (count DESC, word ASC). See
 * [[graft.functions.TextFunctions.vocabTopK]] for the
 * TakeOrderedAndProject scale shape (never a global sort).
 *
 * {{{
 * - name: corpus-vocab
 *   type: vocab_topk
 *   options: {textColumn: text, k: "10000"}
 * }}}
 */
object VocabTopKTransform extends Transform {
  val transformType = "vocab_topk"
  private val TextColumn = Opt.column("textColumn").required
  private val K = Opt.int("k", min = 1).required
  private val NgramSize = Opt.int("ngramSize", min = 1).default(1)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    TextFunctions.vocabTopK(input, TextColumn(config), K(config), NgramSize(config))
}

/**
 * entropy — per-document token Shannon entropy (bits) + token totals, the
 * information-density quality signal. One (doc, term) shuffle; see
 * [[graft.functions.TextFunctions.tokenEntropy]].
 *
 * {{{
 * - name: info-density
 *   type: entropy
 *   options: {idColumn: doc_id, textColumn: text}
 * }}}
 */
object EntropyTransform extends Transform {
  val transformType = "entropy"
  private val IdColumn = Opt.column("idColumn").required
  private val TextColumn = Opt.column("textColumn").required
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    TextFunctions.tokenEntropy(input, IdColumn(config), TextColumn(config))
}

/**
 * chargram_nll — corpus-as-its-own-LM quality score: per-document average
 * negative log-likelihood under the corpus character n-gram distribution.
 * See [[graft.functions.TextFunctions.charGramNll]] (checkpointed gram
 * frame, vocab-bounded model, broadcast total).
 *
 * {{{
 * - name: lm-outliers
 *   type: chargram_nll
 *   options: {idColumn: doc_id, textColumn: text, n: "3"}
 * }}}
 */
/**
 * normalize_text — canonical text cleanup on the listed columns, the first
 * step of corpus ingestion (exact/shingle dedup both treat "café" ≠
 * "cafe"+combining-acute unless normalized). Steps, in a FIXED documented
 * order so any engine reproduces the output:
 *
 *   1. Unicode normalization (`form`: NFC default | NFD | NFKC | NFKD) —
 *      the native codegen'd [[graft.functions.expressions.UnicodeNormalize]]
 *      (zero-copy for already-normalized text);
 *   2. `stripControl` — drop control characters except `\t` and `\n`;
 *   3. `collapseWhitespace` — every whitespace run becomes one space;
 *   4. `trim` — strip leading/trailing spaces;
 *   5. `lowercase`.
 *
 * Steps 2–5 are opt-in flags (default false) over built-in codegen'd
 * functions — the whole transform is a zero-shuffle linear projection.
 *
 * {{{
 * - name: clean
 *   type: normalize_text
 *   options: {columns: text, form: NFC,
 *             collapseWhitespace: "true", trim: "true"}
 * }}}
 */
object NormalizeTextTransform extends Transform {
  val transformType = "normalize_text"
  private val Columns = Opt.columns("columns").required.nonEmpty
  private val Form = Opt.oneOf("form", "NFC", "NFD", "NFKC", "NFKD").default("NFC")
  private val Flags = Seq("stripControl", "collapseWhitespace", "trim", "lowercase")
    .map(Opt.bool(_).default(false))
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    import org.apache.spark.sql.functions._
    val form = Form(config)
    val Seq(stripControl, collapse, doTrim, lowercase) = Flags.map(_(config))
    Columns(config).foldLeft(input) { (df, c) =>
      var e = graft.functions.expressions.UnicodeNormalize(col(c), form)
      if (stripControl)
        e = regexp_replace(e, "[\\x00-\\x08\\x0B-\\x1F\\x7F]", "")
      if (collapse) e = regexp_replace(e, "\\s+", " ")
      if (doTrim) e = trim(e)
      if (lowercase) e = lower(e)
      df.withColumn(c, e)
    }
  }
}

/**
 * collocations — corpus PMI phrase table: the k bigrams most
 * over-represented vs their parts' independent frequencies. See
 * [[graft.functions.TextFunctions.collocations]] for the PMI formula and
 * the three-scan scale shape.
 *
 * {{{
 * - name: phrases
 *   type: collocations
 *   options: {textColumn: text, k: "1000", minCount: "5"}
 * }}}
 */
object CollocationsTransform extends Transform {
  val transformType = "collocations"
  private val TextColumn = Opt.column("textColumn").required
  private val K = Opt.int("k", min = 1).required
  private val MinCount = Opt.long("minCount", min = 1L).default(5L)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    TextFunctions.collocations(input, TextColumn(config), K(config), MinCount(config))
}

/**
 * Two modes:
 *  - SELF (default): the corpus is its own model — returns the reduced
 *    (id, n_grams, nll) frame, unsmoothed (the model contains every doc
 *    gram by construction).
 *  - `modelView` (a registered `chargram_lm` store): the CCNet-style
 *    perplexity gate against a PERSISTED reference model — appends an
 *    add-one-smoothed `nll` column per row (NULL for gram-less docs) as
 *    one zero-shuffle codegen'd projection, so gating 100 TB against
 *    yesterday's reference LM costs exactly one scan and no id is
 *    needed. Multi-label stores require `label` naming which model to
 *    score under; `n`, when given, must match the store's stamp;
 *    `outputColumn` defaults to `nll`. The smoothed store-mode score and
 *    the unsmoothed self-mode score are intentionally different
 *    statistics — a store trained on the corpus itself will NOT
 *    reproduce self-mode numbers.
 */
object ChargramNllTransform extends LmDrift {
  val transformType = "chargram_nll"
  private val TextColumn = Opt.column("textColumn").required
  // self mode needs an id; store mode (modelView) refuses one
  private val IdColumn = Opt.column("idColumn")
  private val ModelView = Opt.view("modelView")
  private val Label = Opt.string("label")
  private val OutputColumn = Opt.string("outputColumn").default("nll")
  // with a modelView apply refuses idColumn as having no effect: that
  // message, not a missing-column one, is the one to report
  override def validate(config: TransformConfig,
                        schema: org.apache.spark.sql.types.StructType): List[String] =
    checkOptions(config) match {
      case Nil => missingColumns(schema, "textColumn", TextColumn.get(config).toList) ++
        (if (ModelView.isSet(config)) Nil
         else missingColumns(schema, "idColumn", IdColumn.get(config).toList))
      case errs => errs
    }
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    import org.apache.spark.sql.functions._
    val text = TextColumn(config)
    if (!ModelView.isSet(config)) {
      // self-mode's model contains every corpus gram by construction —
      // an unseen fraction is identically 0, so accepting the options
      // would imply drift tracking that cannot exist (set-but-unused)
      Seq(UnseenColumn, MaxUnseenFrac).filter(_.isSet(config))
        .foreach { o => throw new ConfigException(
          s"chargram_nll: ${o.key} only applies with modelView — the self-mode " +
            "model is built FROM this corpus, so nothing is ever unseen; " +
            "drop the option or score against a persisted store") }
      TextFunctions.charGramNll(input, IdColumn(config), text, WantN.get(config).getOrElse(3))
    } else {
      // per-row scoring against the stored model: no id plays a role
      if (IdColumn.isSet(config)) throw new ConfigException(
        "chargram_nll: idColumn has no effect with modelView — store-mode " +
          "scoring is a per-row projection; drop the option")
      val lm = graft.text.ChargramLm.load(ModelView.table(config, ctx.spark),
        wantN = WantN.get(config),
        wantMinCount = WantMinCount.get(config))
      val idx = Label.get(config) match {
        case Some(l) =>
          val i = lm.model.labels.indexOf(l)
          if (i < 0) throw new ConfigException(
            s"chargram_nll: label '$l' is not in the store (labels: " +
              s"${lm.model.labels.mkString(", ")})")
          i
        case None =>
          if (lm.model.labels.length != 1) throw new ConfigException(
            s"chargram_nll: the store carries ${lm.model.labels.length} " +
              s"labels (${lm.model.labels.mkString(", ")}) — name which " +
              "one to score under via `label`")
          0
      }
      val out = OutputColumn(config)
      if (input.columns.exists(_.equalsIgnoreCase(out))) throw new ConfigException(
        s"chargram_nll: output column '$out' already exists on the input — " +
          "rename via outputColumn instead of silently overwriting")
      withUnseenColumn(
        input.withColumn(out, round(graft.functions.expressions.LmNll(
          col(text), lm.model, idx, lm.n), 4)),
        config, lm, text)
    }
  }
}

/**
 * importance_score — DSIR-style data selection signal: per-document
 * average log-likelihood ratio between a target (high-quality reference)
 * char n-gram model and the raw corpus's own model. See
 * [[graft.functions.TextFunctions.importanceScore]] for the formula,
 * smoothing, and the broadcast-model scale shape. The target is a
 * registered view (same resolution as join's `rightDataset`), scanned
 * exactly once — or, with `targetModelView`, ZERO times: a persisted
 * single-label `chargram_lm` store IS the target's (gram, cnt) model,
 * so run N trains it once and every nightly increment skips the
 * target-side scan entirely (the store-family amortization).
 *
 * {{{
 * - name: select-like-wikipedia
 *   type: importance_score
 *   options: {idColumn: doc_id, textColumn: text,
 *             targetView: quality_reference, n: "3"}
 * }}}
 *
 * Options: idColumn/textColumn required, plus exactly ONE of targetView
 * (a corpus; targetTextColumn defaults to textColumn) or
 * targetModelView (a chargram_lm store; its n stamp must match, its
 * minCount pruning is part of the model, multi-label stores name the
 * target via targetLabel); n (default 3). Output replaces the frame:
 * (doc_id, n_grams, importance) — compose with `quantile_filter` or
 * `sample` for the selection/resampling half.
 */
object ImportanceScoreTransform extends Transform {
  val transformType = "importance_score"
  private val IdColumn = Opt.column("idColumn").required
  private val TextColumn = Opt.column("textColumn").required
  private val N = Opt.int("n", min = 1).default(3)
  // exactly one of the two targets
  private val TargetView = Opt.view("targetView")
  private val TargetModelView = Opt.view("targetModelView")
  // a column of targetView
  private val TargetTextColumn = Opt.string("targetTextColumn")
  private val TargetLabel = Opt.string("targetLabel")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    import org.apache.spark.sql.functions._
    val n = N(config)
    (TargetView.get(config), TargetModelView.get(config)) match {
      case (Some(_), Some(_)) => throw new ConfigException(
        "importance_score: targetView and targetModelView are mutually " +
          "exclusive — the target model comes from the corpus OR from a " +
          "persisted chargram_lm store, not both")
      case (None, None) => throw new ConfigException(
        s"importance_score transform '${config.name}' missing required " +
          "option(s): targetView (a corpus) or targetModelView (a " +
          "persisted chargram_lm store)")
      case (Some(view), None) =>
        val target = TargetView.table(config, ctx.spark)
        val targetText = TargetTextColumn.get(config).getOrElse(TextColumn(config))
        if (!target.columns.exists(_.equalsIgnoreCase(targetText)))
          throw new ConfigException(
            s"importance_score: targetTextColumn '$targetText' not found in " +
              s"targetView '$view'")
        TextFunctions.importanceScore(input, IdColumn(config),
          TextColumn(config), target, targetText, n)
      case (None, Some(_)) =>
        // the persisted-store path: the target corpus was reduced to its
        // (gram, cnt) model ONCE at store-build time — this run pays zero
        // target-side scans. The store's counts ARE the target model
        // (minCount pruning included); the n stamp must match this run's.
        if (TargetTextColumn.isSet(config)) throw new ConfigException(
          "importance_score: targetTextColumn has no effect with " +
            "targetModelView — the store already holds gram counts; drop " +
            "the option")
        val store = TargetModelView.table(config, ctx.spark)
        val lm = graft.text.ChargramLm.load(store, wantN = Some(n))
        val label = TargetLabel.get(config) match {
          case Some(l) =>
            if (!lm.model.labels.contains(l)) throw new ConfigException(
              s"importance_score: targetLabel '$l' is not in the store " +
                s"(labels: ${lm.model.labels.mkString(", ")})")
            l
          case None =>
            if (lm.model.labels.length != 1) throw new ConfigException(
              s"importance_score: the store carries ${lm.model.labels.length} " +
                s"labels (${lm.model.labels.mkString(", ")}) — name which " +
                "one is the target via `targetLabel`")
            lm.model.labels.head
        }
        TextFunctions.importanceScoreFromCounts(input, IdColumn(config), TextColumn(config),
          store.where(col("label") === label)
            .select(col("gram"), col("cnt").as("tgt_cnt")), n)
    }
  }
}

/**
 * `url_normalize` — URL canonicalization (see
 * [[graft.functions.UrlFunctions.normalizeUrl]] for the exact step
 * order): the pass that runs before URL-keyed dedup and per-domain
 * caps/topk. Optionally appends the host and registrable-domain
 * (last-two-labels approximation) columns for downstream grouping.
 * Pure regexp projections — zero shuffle, codegen'd.
 *
 * {{{
 * - name: canon
 *   type: url_normalize
 *   options: {column: url, appendHost: host, appendDomain: domain}
 * }}}
 */
object UrlNormalizeTransform extends Transform {
  val transformType = "url_normalize"
  private val Column = Opt.column("column").required
  private val AppendHost = Opt.string("appendHost")
  private val AppendDomain = Opt.string("appendDomain")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    import org.apache.spark.sql.functions.col
    import graft.functions.UrlFunctions
    val c = Column(config)
    val normed = input.withColumn(c, UrlFunctions.normalizeUrl(col(c)))
    val withHost = AppendHost.get(config)
      .map(h => normed.withColumn(h, UrlFunctions.urlHost(col(c))))
      .getOrElse(normed)
    AppendDomain.get(config)
      .map(d => withHost.withColumn(d, UrlFunctions.urlDomain(col(c))))
      .getOrElse(withHost)
  }
}
