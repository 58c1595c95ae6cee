package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext}
import graft.config.{ExprUtils, TransformConfig}

/**
 * chunk — split documents into fixed-size chunks with overlap: the
 * context-window packing step of a training-data pipeline (a 200 KB
 * document does not fit a training example; 500-unit chunks with 50-unit
 * overlap do). Two units:
 *
 *   - `unit: chars` (default) — substring windows over the raw text;
 *   - `unit: tokens` — windows over the BPE token-id stream encoded
 *     against a persisted `mergesView` tokenizer store: the
 *     context-window semantics a model actually has (a char window can
 *     split a token; a token window cannot), emitting both the window's
 *     `chunk_ids` (`array<int>`, the trainable artifact) and its
 *     detokenized `chunk_text` (inspection surface; word-interior cuts
 *     rejoin without a space by the `</w>` marker convention).
 *
 * Chunk i covers `[i·stride, i·stride + size)` with `stride = size −
 * overlap`; the chunk count is `1` when `len ≤ size`, else
 * `⌈(len − size) / stride⌉ + 1` (integer arithmetic — exactly the SQL
 * `(len − size + stride − 1) div stride + 1`), so the final chunk always
 * reaches the end of the document and every unit belongs to at least
 * one chunk. A null text yields no chunks (explode of a null sequence);
 * empty text yields one empty chunk. The counting arithmetic is
 * IDENTICAL in both units — only the measured length changes.
 *
 * Scale shape: a pure per-row projection + explode — zero shuffle, stays
 * inside whole-stage codegen, and the output carries only (id, keep…,
 * chunk columns), never the original full text. In token mode the encode
 * is staged as one column so the merge walk runs ONCE per document (the
 * chunk-count condition references the length twice, and conditional
 * branches are exempt from codegen subexpression elimination). Row
 * growth is corpus_units / stride, the same as any chunker's output.
 *
 * {{{
 * - name: pack-contexts
 *   type: chunk
 *   options: {idColumn: doc_id, textColumn: text, size: "500",
 *             overlap: "50", keep: "lang"}
 * # token windows against the run-N tokenizer store:
 * - name: pack-context-windows
 *   type: chunk
 *   options: {idColumn: doc_id, textColumn: text, unit: tokens,
 *             mergesView: v_merges, size: "2048", overlap: "128"}
 * }}}
 */
object ChunkTransform extends BpeStoreReader {
  val transformType = "chunk"
  private val IdColumn = Opt.column("idColumn").required
  private val TextColumn = Opt.column("textColumn").required
  private val Keep = Opt.columns("keep").default(Nil)
  private val Size = Opt.int("size", min = 1).required
  private val Overlap = Opt.int("overlap", min = 0).default(0)
  private val Unit = Opt.oneOf("unit", "chars", "tokens").default("chars")
  // read by unit=tokens only
  protected val mergesView = Opt.view("mergesView")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val id = IdColumn(config)
    val text = TextColumn(config)
    val size = Size(config)
    val overlap = Overlap(config)
    if (overlap >= size)
      throw new ConfigException(s"chunk overlap must be in [0, size), got $overlap")
    val stride = size - overlap
    val keep = Keep(config)
    val unit = Unit(config)
    if (unit == "chars" && mergesView.isSet(config))
      throw new ConfigException(
        "chunk: mergesView only applies to unit=tokens — a char window " +
          "never consults the tokenizer; set unit: tokens or drop the view")

    if (unit == "tokens") {
      // fixed output/staging names collide loudly, never silently
      ExprUtils.requireNoHelperCollision("chunk", (id +: keep) :+ text,
        "chunk_id", "chunk_ids", "chunk_text", "chunk_len", "__chunk_ids")
      val loaded = loadedStore(config, ctx)
      val ids = col("__chunk_ids")
      val n = size2(ids)
      val nChunks = when(n <= size, lit(1L))
        .otherwise(
          expr(s"(size(__chunk_ids) - $size + ${stride - 1}) div $stride")
            .cast("long") + 1L)
      input
        .select((id +: keep).map(col) :+
          graft.functions.expressions.BpeEncodeIds(col(text), loaded)
            .as("__chunk_ids"): _*)
        .select((id +: keep).map(col) :+ ids :+
          explode(sequence(lit(0L), nChunks - 1L)).as("chunk_id"): _*)
        .select((id +: keep).map(col) ++ Seq(
          col("chunk_id"),
          slice(ids, (col("chunk_id") * stride + 1).cast("int"), lit(size))
            .as("chunk_ids")): _*)
        .withColumn("chunk_text", graft.functions.expressions.BpeDecodeIds(
          col("chunk_ids"), loaded))
        .withColumn("chunk_len", size2(col("chunk_ids")))
    } else {
      ExprUtils.requireNoHelperCollision("chunk", (id +: keep) :+ text,
        "chunk_id", "chunk_text", "chunk_len")
      val len = length(col(text))
      val nChunks = when(len <= size, lit(1L))
        .otherwise(expr(s"(length(`$text`) - $size + ${stride - 1}) div $stride") + 1L)
      input
        .select((id +: keep).map(col) :+ col(text) :+
          explode(sequence(lit(0L), nChunks - 1L)).as("chunk_id"): _*)
        .select((id +: keep).map(col) ++ Seq(
          col("chunk_id"),
          expr(s"substring(`$text`, cast(1 + chunk_id * $stride as int), $size)").as("chunk_text")): _*)
        .withColumn("chunk_len", length(col("chunk_text")))
    }
  }

  /** `size(...)` under a name that doesn't shadow the Int option. */
  private def size2(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.size(c)
}
