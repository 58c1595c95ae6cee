package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig
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
/** A transform that reads a persisted `bpe_train` store: `mergesView`
  * (declared by each reader, required or not) and the optional
  * `numMerges`/`minCount` stamps the store must match. */
private[operators] trait BpeStoreReader extends Transform {
  protected def mergesView: Opt[String]
  protected val WantNumMerges = Opt.int("numMerges")
  protected val WantMinCount = Opt.long("minCount")

  /** The full validated [[Bpe.Loaded]] bundle (merges + alphabet +
    * byte-fallback stamp — vocab derives lazily) of the store
    * `mergesView` names. ONE validated store read per transform. */
  protected def loadedStore(config: TransformConfig, ctx: RunContext): Bpe.Loaded =
    Bpe.load(mergesView.table(config, ctx.spark),
      wantNumMerges = WantNumMerges.get(config), wantMinCount = WantMinCount.get(config))
}

object BpeTransforms {
  /** Shared `oovColumn` option: when set, append the per-row
    * out-of-alphabet codepoint count ([[graft.functions.expressions
    * .BpeOovCount]]) — exactly the `<unk>` ids a non-fallback id-encode
    * would emit, and under byteFallback the codepoints that took the byte
    * path. The encode-drift observability every store consumer shares. */
  def withOovColumn(df: DataFrame, oovColumn: Option[String],
                    loaded: Bpe.Loaded, text: org.apache.spark.sql.Column,
                    tname: String): DataFrame =
    oovColumn match {
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
  private val TextColumn = Opt.column("textColumn").required
  private val NumMerges = Opt.int("numMerges").default(1000)
  private val MaxWords = Opt.int("maxWords").default(100000)
  private val MinCount = Opt.long("minCount").default(2L)
  private val ByteFallback = Opt.bool("byteFallback").default(false)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    try Bpe.mergesFrame(input, TextColumn(config),
      numMerges = NumMerges(config), maxWords = MaxWords(config),
      minCount = MinCount(config), byteFallback = ByteFallback(config))
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
object BpeTokenizeTransform extends BpeStoreReader {
  val transformType = "bpe_tokenize"
  private val TextColumn = Opt.column("textColumn").required
  protected val mergesView = Opt.view("mergesView").required
  private val Emit = Opt.oneOf("emit", "tokens", "ids").default("tokens")
  private val OutputColumn = Opt.string("outputColumn")
  private val OnOov = Opt.oneOf("onOov", "unk", "fail")
  private val OovColumn = Opt.string("oovColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val emit = Emit(config)
    val out = OutputColumn.get(config).getOrElse(
      if (emit == "ids") "input_ids" else "bpe_tokens")
    if (input.columns.contains(out)) throw new ConfigException(
      s"$transformType: output column '$out' already exists in the input — " +
        "set outputColumn to a fresh name")
    val failOnOov = OnOov.get(config).contains("fail")
    val text = col(TextColumn(config))
    val loaded = loadedStore(config, ctx)
    val encoded = emit match {
      case "tokens" =>
        if (OnOov.isSet(config)) throw new ConfigException(
          s"$transformType: onOov applies to emit=ids only — string tokens " +
            "carry out-of-alphabet symbols verbatim (use oovColumn to " +
            "observe them)")
        input.withColumn(out, BpeEncode(text, loaded))
      case _ =>
        input.withColumn(out,
          graft.functions.expressions.BpeEncodeIds(text, loaded, failOnOov))
    }
    BpeTransforms.withOovColumn(encoded, OovColumn.get(config), loaded, text, transformType)
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
object BpeDetokenizeTransform extends BpeStoreReader {
  val transformType = "bpe_detokenize"
  private val IdsColumn = Opt.column("idsColumn").required
  protected val mergesView = Opt.view("mergesView").required
  private val OutputColumn = Opt.string("outputColumn").default("detok_text")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val out = OutputColumn(config)
    if (input.columns.contains(out)) throw new ConfigException(
      s"$transformType: output column '$out' already exists in the input — " +
        "set outputColumn to a fresh name")
    input.withColumn(out, graft.functions.expressions.BpeDecodeIds(
      col(IdsColumn(config)), loadedStore(config, ctx)))
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
object BpeVocabTransform extends BpeStoreReader {
  val transformType = "bpe_vocab"
  protected val mergesView = Opt.view("mergesView")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val store = mergesView.tableIfSet(config, ctx.spark).getOrElse(input)
    graft.text.Bpe.vocabFrame(store,
      wantNumMerges = WantNumMerges.get(config), wantMinCount = WantMinCount.get(config))
  }
}

/**
 * `bpe_token_count` — append the tokenizer-exact token count (what
 * `token_cap`/`pack_sequences`/`mix` budgets should run on). Options as
 * [[BpeTokenizeTransform]]; `outputColumn` defaults to `n_bpe_tokens`.
 */
object BpeTokenCountTransform extends BpeStoreReader {
  val transformType = "bpe_token_count"
  private val TextColumn = Opt.column("textColumn").required
  protected val mergesView = Opt.view("mergesView").required
  private val OutputColumn = Opt.string("outputColumn").default("n_bpe_tokens")
  private val OovColumn = Opt.string("oovColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val out = OutputColumn(config)
    if (input.columns.contains(out)) throw new ConfigException(
      s"$transformType: output column '$out' already exists in the input — " +
        "set outputColumn to a fresh name")
    val text = col(TextColumn(config))
    val loaded = loadedStore(config, ctx)
    BpeTransforms.withOovColumn(
      input.withColumn(out, BpeEncode.count(text, loaded)),
      OovColumn.get(config), loaded, text, transformType)
  }
}
