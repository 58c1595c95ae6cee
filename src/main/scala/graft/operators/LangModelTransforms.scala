package graft.operators

import org.apache.spark.sql.DataFrame

import graft.api.{ConfigException, Opt, RunContext, Transform}
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
  private val LabelColumn = Opt.column("labelColumn").required
  private val TextColumn = Opt.column("textColumn").required
  private val N = Opt.int("n").default(3)
  private val MinCount = Opt.long("minCount").default(1L)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    try ChargramLm.modelFrame(input, LabelColumn(config), TextColumn(config),
      n = N(config), minCount = MinCount(config))
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
private[operators] trait LmDrift extends Transform {
  /** The store's `n`/`minCount` training stamps, when given. */
  protected val WantN = Opt.int("n", min = 1)
  protected val WantMinCount = Opt.long("minCount")
  protected val UnseenColumn = Opt.string("unseenColumn")
  protected val MaxUnseenFrac = Opt.double("maxUnseenFrac", min = 0.0, max = 1.0)

  /** Append `unseenColumn` (rounded per-row unseen-gram fraction, armed
    * with the optional `maxUnseenFrac` per-row guard) when configured.
    * `maxUnseenFrac` without `unseenColumn` is refused: the guard rides
    * the emitted column's expression — with no column, Catalyst would
    * prune the guard out of the plan and it would never fire. */
  protected def withUnseenColumn(df: DataFrame, config: TransformConfig,
                                 loaded: ChargramLm.Loaded, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, round}
    val threshold = MaxUnseenFrac.get(config)
    UnseenColumn.get(config) match {
      case None =>
        threshold.foreach { _ => throw new ConfigException(
          s"$transformType: maxUnseenFrac is set but unseenColumn is not — the " +
            "guard rides the unseen-fraction column's expression, so " +
            "without a column it would be pruned out of the plan and " +
            "never fire; name the column via unseenColumn") }
        df
      case Some(out) =>
        if (df.columns.exists(_.equalsIgnoreCase(out))) throw new ConfigException(
          s"$transformType: unseenColumn '$out' already exists on the input — " +
            "set it to a fresh name")
        df.withColumn(out, round(graft.functions.expressions.LmUnseenFrac(
          col(textCol), loaded.model, loaded.n,
          threshold.getOrElse(Double.NaN)), 4))
    }
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
 * `maxModelCells` option is refused as an unknown one). Documents with no
 * grams (null / shorter than the store's n) classify as `"und"` — the
 * `langId` convention.
 *
 * {{{
 * - name: lang
 *   type: lang_classify
 *   options: {textColumn: text, modelView: lang_model}
 * }}}
 */
object LangClassifyTransform extends LmDrift {
  val transformType = "lang_classify"
  private val TextColumn = Opt.column("textColumn").required
  private val ModelView = Opt.view("modelView").required
  private val MaxLabels = Opt.int("maxLabels").default(1000)
  private val MaxModelRows = Opt.long("maxModelRows").default(5000000L)
  private val OutputColumn = Opt.string("outputColumn").default("lang_pred")
  private val ScoreColumn = Opt.string("scoreColumn")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val loaded = ChargramLm.load(ModelView.table(config, ctx.spark),
      wantN = WantN.get(config),
      wantMinCount = WantMinCount.get(config),
      maxLabels = MaxLabels(config),
      maxModelRows = MaxModelRows(config))
    val out = OutputColumn(config)
    val scoreCol = ScoreColumn.get(config)
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
    val text = TextColumn(config)
    withUnseenColumn(ChargramLm.classify(input, text, loaded, out, scoreCol),
      config, loaded, text)
  }
}
