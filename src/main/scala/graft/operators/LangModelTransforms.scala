package graft.operators

import org.apache.spark.sql.DataFrame

import graft.api.{ConfigException, RunContext, Transform}
import graft.config.TransformConfig
import graft.text.ChargramLm

/**
 * chargram_lm — train the per-label character n-gram language-model
 * STORE from a labeled corpus: one (label, gram) aggregation, stamped
 * with `clm_n`/`clm_min_count`, persisted via an ordinary file sink and
 * consumed by `lang_classify` in later runs (the merges / codebook /
 * signature store family; see [[graft.text.ChargramLm.modelFrame]] for
 * the scale shape and the loud-failure contract).
 *
 * {{{
 * - name: lang-model
 *   type: chargram_lm
 *   options: {labelColumn: lang, textColumn: text, n: "3", minCount: "2"}
 * }}}
 *
 * `minCount` scales with corpus size: at volume a floor of 2+ bounds the
 * store against hapax noise, but on a SMALL corpus it starves the model
 * (most grams occur once) and classification degenerates toward the
 * all-unseen term, where the smallest-total label wins every document —
 * keep 1 for small strata (measured: quickstart-25's 10-doc corpus
 * predicts everything as the sparsest label at minCount=2).
 */
object ChargramLmTransform extends Transform {
  val transformType = "chargram_lm"
  override val columnOptions = Seq("labelColumn", "textColumn")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "labelColumn", "textColumn")
    try ChargramLm.modelFrame(input, config.options("labelColumn"),
      config.options("textColumn"),
      n = intOption(config, "n", 3),
      minCount = longOption(config, "minCount", 1L))
    catch { case e: IllegalArgumentException => throw new ConfigException(e.getMessage) }
  }
}

/**
 * Shared `unseenColumn` / `maxUnseenFrac` plumbing for every chargram_lm
 * store CONSUMER (`lang_classify`, `chargram_nll` modelView) — the
 * [[BpeTransforms.withOovColumn]] drift-observability discipline stated
 * for gram models: a store trained on corpus A scoring corpus B must
 * drift LOUDLY, either as a watched fraction column or as a per-row
 * threshold guard, never as silently degraded scores.
 */
private[operators] object LmDrift {
  /** Append `unseenColumn` (rounded per-row unseen-gram fraction, armed
    * with the optional `maxUnseenFrac` per-row guard) when configured.
    * `maxUnseenFrac` without `unseenColumn` is refused: the guard rides
    * the emitted column's expression — with no column, Catalyst would
    * prune the guard out of the plan and it would never fire. */
  def withUnseenColumn(df: DataFrame, config: TransformConfig,
                       threshold: Option[Double], loaded: ChargramLm.Loaded,
                       textCol: String, tname: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, round}
    config.options.get("unseenColumn") match {
      case None =>
        threshold.foreach { _ => throw new ConfigException(
          s"$tname: maxUnseenFrac is set but unseenColumn is not — the " +
            "guard rides the unseen-fraction column's expression, so " +
            "without a column it would be pruned out of the plan and " +
            "never fire; name the column via unseenColumn") }
        df
      case Some(out) =>
        if (df.columns.exists(_.equalsIgnoreCase(out))) throw new ConfigException(
          s"$tname: unseenColumn '$out' already exists on the input — " +
            "set it to a fresh name")
        df.withColumn(out, round(graft.functions.expressions.LmUnseenFrac(
          col(textCol), loaded.model, loaded.n,
          threshold.getOrElse(Double.NaN)), 4))
    }
  }

  /** The `maxUnseenFrac` guard, decoded before the store load so a bad
    * value fails with no Spark job run. */
  def maxUnseenFrac(config: TransformConfig, tname: String): Option[Double] =
    config.options.get("maxUnseenFrac").map { raw =>
      val v = graft.config.Options.double(tname, "maxUnseenFrac", raw)
      if (v < 0.0 || v > 1.0) throw new ConfigException(
        s"$tname: maxUnseenFrac must be in [0, 1], got $v")
      v
    }
}

/**
 * lang_classify — append the TRAINED language prediction from a
 * registered `chargram_lm` store (`modelView`): add-one-smoothed
 * log-likelihood per label, argmax appended as `outputColumn` (default
 * `lang_pred`), optional `scoreColumn` with the rounded best score.
 * ONE zero-shuffle codegen'd projection against the broadcast model
 * object ([[graft.text.ChargramLm.classify]]). `n`/`minCount`, when
 * given, must match the store's training stamps; `maxLabels` (default
 * 1000) bounds the per-row score vector and `maxModelRows` (default
 * 5000000) the one driver collect AND the whole in-memory model (the
 * scoring representation is sparse — O(store rows), one (labelIdx, ln)
 * pair per row — so no separate cell ceiling exists; the dense-era
 * `maxModelCells` option is refused with guidance). Documents with no
 * grams (null / shorter than the store's n) classify as `"und"` — the
 * `langId` convention.
 *
 * {{{
 * - name: lang
 *   type: lang_classify
 *   options: {textColumn: text, modelView: lang_model}
 * }}}
 */
object LangClassifyTransform extends Transform {
  val transformType = "lang_classify"
  override val columnOptions = Seq("textColumn")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "textColumn", "modelView")
    // scoring is per-row — an id plays no role; accepting one silently
    // would imply join semantics that don't exist (set-but-unused options
    // are config contradictions, the text_signals/mergesView discipline)
    if (config.options.contains("idColumn")) throw new ConfigException(
      s"$transformType: idColumn is not an option — classification is a " +
        "per-row projection and needs no id; drop the option")
    val threshold = LmDrift.maxUnseenFrac(config, transformType)
    val store = Stores.fromView(ctx, config.options("modelView"),
      "modelView", transformType, "chargram_lm")
    // the scoring model is sparse (O(store rows)); the dense-era cell
    // ceiling no longer guards anything, and silently accepting it would
    // imply a bound that isn't enforced (set-but-unused options are
    // config contradictions, the idColumn discipline above)
    if (config.options.contains("maxModelCells")) throw new ConfigException(
      s"$transformType: maxModelCells was the DENSE scoring model's " +
        "grams × labels ceiling; the model is now sparse — its footprint " +
        "is O(store rows), bounded by maxModelRows — so the option no " +
        "longer guards anything; drop it (or tighten maxModelRows)")
    val loaded = ChargramLm.load(store,
      wantN = intOption(config, "n"),
      wantMinCount = longOption(config, "minCount"),
      maxLabels = intOption(config, "maxLabels", 1000),
      maxModelRows = longOption(config, "maxModelRows", 5000000L))
    val out = config.options.getOrElse("outputColumn", "lang_pred")
    val scoreCol = config.options.get("scoreColumn")
    // outputColumn == scoreColumn is a self-collision the per-input checks
    // below cannot see: withColumn(scoreCol) would silently overwrite the
    // prediction with the rounded score (Spark resolves case-insensitively)
    scoreCol.filter(_.equalsIgnoreCase(out)).foreach { c =>
      throw new ConfigException(
        s"$transformType: outputColumn and scoreColumn are both '$c' — the " +
          "score would silently overwrite the prediction; give them " +
          "distinct names")
    }
    (out +: scoreCol.toSeq).foreach { c =>
      if (input.columns.exists(_.equalsIgnoreCase(c))) throw new ConfigException(
        s"$transformType: output column '$c' already exists on the input — " +
          "rename via outputColumn/scoreColumn instead of silently overwriting")
    }
    // drift observability LAST: classify's outputs are real columns by
    // then, so a colliding unseenColumn is caught by the exists check
    LmDrift.withUnseenColumn(
      ChargramLm.classify(input, config.options("textColumn"), loaded, out,
        scoreCol),
      config, threshold, loaded, config.options("textColumn"), transformType)
  }
}
