package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, RunContext, Transform}
import graft.config.{Options, TransformConfig}
import graft.functions.expressions.BpeEncode
import graft.text.Bpe

/**
 * The BPE tokenizer as declarative pipeline transforms — the build/consume
 * pair every other persisted store in the engine ships (signature store,
 * gram store, codebook store), applied to the tokenizer so token budgets
 * are TOKENIZER-exact instead of whitespace-proxy:
 *
 * {{{
 * # run N: train once, persist the merges store
 * - name: train-tokenizer
 *   type: bpe_train
 *   options: {textColumn: text, numMerges: "16000"}
 * # (file sink writes the store parquet)
 *
 * # run N+1: tokenize/count against the persisted store
 * - name: load-merges
 *   type: register
 *   options: {viewName: v_merges, path: /stores/bpe, format: parquet}
 * - name: count-tokens
 *   type: bpe_token_count
 *   options: {textColumn: text, mergesView: v_merges}
 * }}}
 *
 * Scale shape (see [[graft.text.Bpe]]): training is ONE word-frequency
 * aggregate truncated to `maxWords` + a bounded driver merge loop;
 * encoding is a zero-shuffle codegen'd projection with the O(numMerges)
 * merges list riding into generated code as one broadcast reference
 * object and a per-executor word→tokens memo. Loading the store is an
 * O(numMerges) bounded driver read with the loud-store stamp contract —
 * the same accepted driver-read class as the codebook/signature loads.
 */
object BpeTransforms {
  /** Resolve `mergesView` to the registered store frame. The view must
    * already be registered (the `register` transform or a prior
    * `createOrReplaceTempView`). */
  def storeFromView(config: TransformConfig, ctx: RunContext,
                    tname: String): org.apache.spark.sql.DataFrame = {
    val view = config.options("mergesView")
    try ctx.spark.table(view)
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new ConfigException(
        s"$tname: mergesView '$view' is not a registered view/table — " +
          s"register the persisted bpe_train store first (${e.getMessage})")
    }
  }

  /** Resolve `mergesView` to the full validated [[Bpe.Loaded]] bundle
    * (merges + alphabet + byte-fallback stamp — vocab derives lazily);
    * `numMerges`/`minCount` options, when present, must match the
    * store's training stamps. ONE validated store read per transform. */
  def loadedFromView(config: TransformConfig, ctx: RunContext,
                     tname: String): Bpe.Loaded =
    Bpe.load(storeFromView(config, ctx, tname),
      wantNumMerges = config.options.get("numMerges").map(Options.int(tname, "numMerges", _)),
      wantMinCount = config.options.get("minCount").map(Options.long(tname, "minCount", _)))

  /** Resolve `mergesView` to the validated ordered merges list. */
  def mergesFromView(config: TransformConfig, ctx: RunContext,
                     tname: String): Seq[(String, String)] =
    loadedFromView(config, ctx, tname).merges

  /** Shared `oovColumn` option: when set, append the per-row
    * out-of-alphabet codepoint count ([[graft.functions.expressions
    * .BpeOovCount]]) — exactly the `<unk>` ids a non-fallback id-encode
    * would emit, and under byteFallback the codepoints that took the byte
    * path. The encode-drift observability every store consumer shares. */
  def withOovColumn(df: DataFrame, config: TransformConfig,
                    loaded: Bpe.Loaded, text: org.apache.spark.sql.Column,
                    tname: String): DataFrame =
    config.options.get("oovColumn") match {
      case None => df
      case Some(out) =>
        // case-INSENSITIVE: Spark's withColumn resolves case-insensitively,
        // so N_OOV vs n_oov would slip a .contains check and be replaced
        if (df.columns.exists(_.equalsIgnoreCase(out))) throw new ConfigException(
          s"$tname: oovColumn '$out' already exists in the input — " +
            "set it to a fresh name")
        df.withColumn(out,
          graft.functions.expressions.BpeOovCount(text, loaded))
    }
}

/**
 * `bpe_train` — train a BPE vocabulary over the corpus and REPLACE the
 * frame with the persistable merges store ([[Bpe.mergesFrame]] layout:
 * merge_rank, lhs, rhs + parameter stamps), the `minhash_signatures` /
 * `codebook` store-build shape: the pipeline's sink persists it; later
 * runs consume it via `mergesView`.
 *
 * Options: `textColumn` (required); `numMerges` (default 1000);
 * `maxWords` (default 100000 — the word-frequency table truncation, ties
 * broken to the utf8-smaller word); `minCount` (default 2 — training
 * stops when the best pair drops below it); `byteFallback` (default
 * false — true seeds the 256 `<0xNN>` UTF-8 byte tokens into the
 * alphabet and stamps the store, so EVERY later encode against it
 * decomposes unseen codepoints into byte tokens instead of `<unk>`: the
 * GPT-2/SentencePiece cross-corpus safety property, essential when the
 * store trains on run N and encodes run N+1's never-seen data).
 */
object BpeTrainTransform extends Transform {
  val transformType = "bpe_train"
  override val columnOptions = Seq("textColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "textColumn")
    try Bpe.mergesFrame(input, config.options("textColumn"),
      numMerges = intOption(config, "numMerges", 1000),
      maxWords = intOption(config, "maxWords", 100000),
      minCount = longOption(config, "minCount", 2L),
      byteFallback = boolOption(config, "byteFallback", false))
    catch { case e: IllegalArgumentException => throw new ConfigException(e.getMessage) }
  }
}

/**
 * `bpe_tokenize` — append the BPE encoding against a persisted merges
 * store: `emit: tokens` (default) appends the token STRING array (with
 * `</w>` end-of-word markers, so detokenization stays possible);
 * `emit: ids` appends the token-ID `array<int>` under the
 * [[graft.text.Bpe.loadVocab]] id assignment — the `input_ids` a
 * training run consumes (out-of-vocabulary symbols map to `<unk>` = 0).
 * Options: `textColumn`, `mergesView` (required); `outputColumn`
 * (default `bpe_tokens` / `input_ids` by emit); `numMerges`/`minCount`
 * stamp checks (optional — must match the store's training parameters);
 * `oovColumn` (append the per-row out-of-alphabet codepoint count — the
 * encode-drift metric); `onOov` = `unk` (default — out-of-vocabulary
 * symbols map to id 0) or `fail` (refuse the encode loudly on the first
 * OOV symbol — the drift GUARD; emit=ids only, since string tokens have
 * no OOV). A store trained with `byteFallback=true` decomposes unseen
 * codepoints into byte tokens automatically (the stamp rides in the
 * store — no option here), so it never produces `<unk>` or trips `fail`.
 */
object BpeTokenizeTransform extends Transform {
  val transformType = "bpe_tokenize"
  override val columnOptions = Seq("textColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "textColumn", "mergesView")
    val emit = config.options.getOrElse("emit", "tokens")
    val out = config.options.getOrElse("outputColumn",
      if (emit == "ids") "input_ids" else "bpe_tokens")
    if (input.columns.contains(out)) throw new ConfigException(
      s"$transformType: output column '$out' already exists in the input — " +
        "set outputColumn to a fresh name")
    val failOnOov = config.options.get("onOov") match {
      case None | Some("unk") => false
      case Some("fail") => true
      case Some(other) => throw new ConfigException(
        s"$transformType: onOov must be unk|fail, got '$other'")
    }
    val text = col(config.options("textColumn"))
    val loaded = BpeTransforms.loadedFromView(config, ctx, transformType)
    val encoded = emit match {
      case "tokens" =>
        if (config.options.contains("onOov")) throw new ConfigException(
          s"$transformType: onOov applies to emit=ids only — string tokens " +
            "carry out-of-alphabet symbols verbatim (use oovColumn to " +
            "observe them)")
        input.withColumn(out, BpeEncode(text, loaded))
      case "ids" =>
        input.withColumn(out,
          graft.functions.expressions.BpeEncodeIds(text, loaded, failOnOov))
      case other => throw new ConfigException(
        s"$transformType: emit must be tokens|ids, got '$other'")
    }
    BpeTransforms.withOovColumn(encoded, config, loaded, text, transformType)
  }
}

/**
 * `bpe_detokenize` — append the text decoded from a token-id array
 * (`bpe_tokenize emit=ids` / `pack_sequences emit=input_ids` output)
 * through the store's vocabulary: `</w>` markers become word separators,
 * out-of-range or null ids render as `<unk>` so corruption is VISIBLE,
 * never an exception. The inspection/debugging inverse of the id encode
 * — decode(encode(text)) is the whitespace-normalized text (q136).
 * Options: `idsColumn`, `mergesView` (required); `outputColumn` (default
 * `detok_text`); `numMerges`/`minCount` stamp checks.
 */
object BpeDetokenizeTransform extends Transform {
  val transformType = "bpe_detokenize"
  override val columnOptions = Seq("idsColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idsColumn", "mergesView")
    val out = config.options.getOrElse("outputColumn", "detok_text")
    if (input.columns.contains(out)) throw new ConfigException(
      s"$transformType: output column '$out' already exists in the input — " +
        "set outputColumn to a fresh name")
    val loaded = BpeTransforms.loadedFromView(config, ctx, transformType)
    input.withColumn(out, graft.functions.expressions.BpeDecodeIds(
      col(config.options("idsColumn")), loaded))
  }
}

/**
 * `bpe_vocab` — REPLACE the frame with the (token_id, token) vocabulary
 * derived from a merges store ([[graft.text.Bpe.loadVocab]]: `<unk>`=0,
 * alphabet in UTF-8 order, merge products in merge order) — the
 * export/join-back surface: persist it beside the id-encoded corpus and
 * any engine detokenizes `input_ids` with a plain join. The store is
 * the INPUT frame by default (pipeline source = the persisted store
 * parquet — the natural export pipeline shape, and the input frame is
 * actually consumed, which keeps the executor's input observation
 * meaningful); `mergesView` names a registered view instead. Options:
 * `numMerges`/`minCount` stamp checks.
 */
object BpeVocabTransform extends Transform {
  val transformType = "bpe_vocab"
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val store =
      if (config.options.contains("mergesView"))
        BpeTransforms.storeFromView(config, ctx, transformType)
      else input
    graft.text.Bpe.vocabFrame(store,
      wantNumMerges = intOption(config, "numMerges"),
      wantMinCount = longOption(config, "minCount"))
  }
}

/**
 * `bpe_token_count` — append the tokenizer-exact token count (what
 * `token_cap`/`pack_sequences`/`mix` budgets should run on). Options as
 * [[BpeTokenizeTransform]]; `outputColumn` defaults to `n_bpe_tokens`.
 */
object BpeTokenCountTransform extends Transform {
  val transformType = "bpe_token_count"
  override val columnOptions = Seq("textColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "textColumn", "mergesView")
    val out = config.options.getOrElse("outputColumn", "n_bpe_tokens")
    if (input.columns.contains(out)) throw new ConfigException(
      s"$transformType: output column '$out' already exists in the input — " +
        "set outputColumn to a fresh name")
    val text = col(config.options("textColumn"))
    val loaded = BpeTransforms.loadedFromView(config, ctx, transformType)
    BpeTransforms.withOovColumn(
      input.withColumn(out, BpeEncode.count(text, loaded)),
      config, loaded, text, transformType)
  }
}
