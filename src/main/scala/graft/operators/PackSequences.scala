package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext}
import graft.config.TransformConfig

/**
 * Training-sequence packing — the GPT-style "concatenate the corpus, then
 * cut every `seqLen` tokens" layout: documents are laid end-to-end in
 * `idColumn` order and each document is mapped to the fixed-length
 * training sequence(s) it lands in, with its token span inside the
 * document and its position inside the sequence. Unlike `chunk` (split
 * WITHIN a document) or `shard` (assign documents WHOLE to budgeted
 * groups), a packed sequence crosses document boundaries and a long
 * document crosses sequence boundaries — one output row per
 * (document, sequence) overlap:
 *
 *   - `seq_id`     — the sequence index, floor(offset / seqLen)
 *   - `tok_start` / `tok_end` — the [start, end) weight span of THIS
 *     document that falls in THIS sequence
 *   - `pos_in_seq` — where that span begins inside the sequence
 *
 * Exactly-N invariant: every sequence except the last receives exactly
 * `seqLen` units of weight across its rows.
 *
 * Scale shape: the offsets come from [[Shards.assignShards]]'s two-phase
 * distributed prefix sum (ONE range exchange + an O(partitions) driver
 * collect — never a SinglePartition window), and the span explode emits
 * at most `weight/seqLen + 1` rows per document. Weights must be
 * integral; the arithmetic is exact long arithmetic, bit-identical to
 * the SQL-window oracle regardless of partitioning. Zero/null-weight
 * documents occupy no span and are dropped.
 */
object PackSequences {

  def pack(df: DataFrame, idCol: String, weightCol: String, seqLen: Long,
           numPartitions: Int = 0): DataFrame =
    packGrouped(df, idCol, weightCol, Nil, seqLen, numPartitions)

  /** Per-stratum packing: the prefix sum (and therefore `seq_id`) restarts
    * inside every `groupCols` combination, so one sequence never mixes two
    * strata — the "pack web and code separately" mixture discipline.
    * `seq_id` is unique per (group, seq_id), not globally. Same
    * boundary-chain machine as `token_cap`: O(partitions) driver state
    * regardless of stratum cardinality. */
  def packGrouped(df: DataFrame, idCol: String, weightCol: String,
                  groupCols: Seq[String], seqLen: Long,
                  numPartitions: Int = 0): DataFrame = {
    require(seqLen > 0, s"pack_sequences: seqLen must be positive, got $seqLen")
    graft.config.ExprUtils.requireNoHelperCollision(
      "pack_sequences", df.columns.toSeq,
      "__w", "cum_before", "seq_id", "tok_start", "tok_end", "pos_in_seq")
    val stamped = GroupedPrefixSum.stamp(df, groupCols, Seq(col(idCol)),
        weightCol, "cum_before", numPartitions)
      .withColumn("__w", coalesce(col(weightCol).cast("long"), lit(0L)))
      .where(col("__w") > 0)
    stamped
      .withColumn("seq_id", explode(sequence(
        expr(s"cum_before div ${seqLen}L"),
        expr(s"(cum_before + __w - 1) div ${seqLen}L"))))
      .withColumn("tok_start", greatest(lit(0L), col("seq_id") * seqLen - col("cum_before")))
      .withColumn("tok_end", least(col("__w"), (col("seq_id") + 1) * seqLen - col("cum_before")))
      .withColumn("pos_in_seq", greatest(lit(0L), col("cum_before") - col("seq_id") * seqLen))
      .drop("__w", "cum_before")
  }

  /**
   * Materialize the packed sequences as actual training rows: one row per
   * sequence with the ordered concatenation of its document spans. For
   * the substring arithmetic to be meaningful `weightCol` must be the
   * CHARACTER length of `textCol` (token-weight packing emits spans, not
   * text — substrings of a string by token offsets would be nonsense).
   *
   * Scale shape: `pack`'s prefix sum + ONE hash exchange on `seq_id`;
   * the per-sequence concat is an ordered in-group fold
   * (collect_list → array_sort on (pos, piece) structs → join), bounded
   * by `seqLen` characters per group by construction — no window, no
   * skew (every group is the same size except the last).
   */
  def materialize(df: DataFrame, idCol: String, textCol: String,
                  weightCol: String, seqLen: Long,
                  numPartitions: Int = 0,
                  groupCols: Seq[String] = Nil): DataFrame = {
    graft.config.ExprUtils.requireNoHelperCollision(
      "pack_sequences", df.columns.toSeq, "__piece")
    val spans = packGrouped(df, idCol, weightCol, groupCols, seqLen, numPartitions)
    spans
      .withColumn("__piece", col(textCol).substr(
        (col("tok_start") + 1).cast("int"),
        (col("tok_end") - col("tok_start")).cast("int")))
      .groupBy((groupCols :+ "seq_id").map(col): _*)
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos_in_seq"), col("__piece")))),
          s => s.getField("__piece")), "").as("seq_text"),
        count(lit(1)).as("n_docs"),
        sum(col("tok_end") - col("tok_start")).as("seq_weight"))
  }

  /**
   * Materialize the packed sequences as TRAINING ROWS: one row per
   * sequence with the fixed-length `input_ids` array assembled from the
   * documents' token-id arrays (`idsCol`, `array<int>`) — the artifact a
   * training run memory-maps. The packing weight IS `size(idsCol)`, so
   * spans and array slices can never disagree; every sequence except the
   * last carries exactly `seqLen` ids.
   *
   * Scale shape: [[materialize]]'s — the prefix sum + ONE hash exchange
   * on `seq_id`, per-sequence assembly an ordered in-group fold bounded
   * at `seqLen` ids per group, no window, no skew.
   *
   * `padId` fills the one short sequence per group (the last) up to
   * `seqLen`, and `withMask` (requires `padId`) appends the matching
   * `attention_mask` array (1 per real id, 0 per pad) — together they
   * make EVERY row a fixed-length rectangular tensor pair, the layout a
   * training run memory-maps directly. `seq_weight` keeps counting REAL
   * ids, so the pre-pad arithmetic stays oracle-checkable. Both are pure
   * per-row projections on the already-aggregated frame — the plan shape
   * is unchanged.
   */
  def materializeIds(df: DataFrame, idCol: String, idsCol: String,
                     seqLen: Long, numPartitions: Int = 0,
                     groupCols: Seq[String] = Nil,
                     padId: Option[Int] = None,
                     withMask: Boolean = false): DataFrame = {
    require(!withMask || padId.isDefined,
      "pack_sequences: attention_mask only makes sense for padded " +
        "(rectangular) sequences — set padId with emitMask")
    graft.config.ExprUtils.requireNoHelperCollision(
      "pack_sequences", df.columns.toSeq, "__piece", "__w_ids")
    val staged = df.withColumn("__w_ids", size(col(idsCol)).cast("long"))
    val spans = packGrouped(staged, idCol, "__w_ids", groupCols, seqLen,
      numPartitions)
    val packed = spans
      .withColumn("__piece", slice(col(idsCol),
        (col("tok_start") + 1).cast("int"),
        (col("tok_end") - col("tok_start")).cast("int")))
      .groupBy((groupCols :+ "seq_id").map(col): _*)
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col("pos_in_seq"), col("__piece")))),
          s => s.getField("__piece"))).as("input_ids"),
        count(lit(1)).as("n_docs"),
        sum(col("tok_end") - col("tok_start")).as("seq_weight"))
    val nPad = (lit(seqLen) - size(col("input_ids"))).cast("int")
    val padded = padId match {
      case None => packed
      case Some(p) => packed.withColumn("input_ids",
        concat(col("input_ids"), array_repeat(lit(p), nPad)))
    }
    if (!withMask) padded
    else padded.withColumn("attention_mask", concat(
      array_repeat(lit(1), col("seq_weight").cast("int")),
      array_repeat(lit(0), (lit(seqLen) - col("seq_weight")).cast("int"))))
  }
}

/**
 * `pack_sequences` — declarative wrapper over [[PackSequences.pack]].
 *
 * {{{
 * - name: pack
 *   type: pack_sequences
 *   options: {idColumn: doc_id, weightColumn: n_tokens, seqLen: "2048"}
 * }}}
 *
 * Options: `idColumn` (unique — it is the concatenation order),
 * `weightColumn` (integral), `seqLen` required; `numPartitions`
 * (default: session shuffle partitions); `emit` = `spans` (default — one
 * row per (document, sequence) overlap), `text` (one row per sequence
 * with the ordered concatenation — requires `textColumn`, and
 * `weightColumn` must be its character length), or `input_ids` (one
 * TRAINING ROW per sequence: the fixed-length token-id array encoded
 * against `mergesView` + `textColumn` — weight is the id count by
 * construction, so `weightColumn` is rejected; `appendId` appends one
 * separator token id after every non-empty document, the GPT-2/Pile
 * end-of-text convention; `padId` fills the final short sequence per
 * group to exactly `seqLen`, and `emitMask: "true"` — requires `padId` —
 * appends the matching `attention_mask` array of 1s/0s, so every row is
 * a rectangular tensor pair a training run memory-maps directly);
 * `groupBy` (comma list —
 * pack per stratum: the prefix sum and `seq_id` restart per group, so a
 * sequence never mixes two strata).
 */
object PackSequencesTransform extends BpeStoreReader {
  val transformType = "pack_sequences"
  private val IdColumn = Opt.column("idColumn").required
  private val SeqLen = Opt.long("seqLen").required
  private val GroupBy = Opt.columns("groupBy").default(Nil)
  private val NumPartitions = Opt.int("numPartitions").default(0)
  private val Emit = Opt.oneOf("emit", "spans", "text", "input_ids").default("spans")
  // the sequence weight: weightColumn, or BPE tokens of textColumn via mergesView
  private val WeightColumn = Opt.column("weightColumn")
  private val TextColumn = Opt.column("textColumn")
  protected val mergesView = Opt.view("mergesView")
  // emit=input_ids only
  private val AppendId = Opt.int("appendId")
  private val PadId = Opt.int("padId")
  private val EmitMask = Opt.bool("emitMask").default(false)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val id = IdColumn(config)
    val groups = GroupBy(config)
    val seqLen = SeqLen(config)
    val nParts = NumPartitions(config)
    val emit = Emit(config)
    if (emit == "input_ids") {
      // the training-export path: ids encoded against the tokenizer store,
      // weight = size(ids) by construction — an independent weightColumn
      // could only contradict the arrays it slices
      if (WeightColumn.isSet(config)) throw new ConfigException(
        "pack_sequences: emit=input_ids derives its weight from the " +
          "encoded ids — weightColumn does not apply")
      val text = TextColumn(config)
      graft.config.ExprUtils.requireNoHelperCollision(
        "pack_sequences", input.columns.toSeq, "__bpe_ids")
      val encoded = graft.functions.expressions.BpeEncodeIds(col(text), loadedStore(config, ctx))
      // appendId: the GPT-2/Pile end-of-text convention — one separator
      // token id after every NON-empty document, so the model can learn
      // document boundaries inside sequences that cross them. The id is
      // caller-chosen (typically reserved at vocab size, or <unk>=0);
      // empty documents stay empty (a separator-only doc would be noise)
      val withSep = AppendId.get(config).map { sep =>
        when(size(encoded) > 0,
          concat(encoded, array(lit(sep)))).otherwise(encoded)
      }.getOrElse(encoded)
      val staged = input.withColumn("__bpe_ids", withSep)
      return try PackSequences.materializeIds(staged, id, "__bpe_ids",
        seqLen, nParts, groups, PadId.get(config), EmitMask(config))
      catch { case e: IllegalArgumentException => throw new ConfigException(e.getMessage) }
    }
    Seq(PadId, EmitMask).filter(_.isSet(config)).foreach { o =>
      throw new ConfigException(
        s"pack_sequences: ${o.key} applies to emit=input_ids only — spans carry " +
          "offsets, and text packs by characters")
    }
    // the sequence weight: a pre-computed weightColumn, or tokenizer-exact
    // BPE tokens via mergesView + textColumn (spans mode only — emit=text
    // cuts by CHARACTER offsets, so its weight must be char length, and a
    // token-weighted substring would silently be nonsense)
    val (staged, weightCol, derived) =
      (WeightColumn.get(config), mergesView.get(config)) match {
        case (Some(w), None) => (input, w, false)
        case (None, Some(_)) =>
          val text = TextColumn(config)
          if (emit != "spans")
            throw new ConfigException(
              "pack_sequences: mergesView packs in BPE tokens and only " +
                "emits spans — emit=text needs character weights " +
                "(weightColumn = char length)")
          graft.config.ExprUtils.requireNoHelperCollision(
            "pack_sequences", input.columns.toSeq, "__bpe_w")
          (input.withColumn("__bpe_w",
            graft.functions.expressions.BpeEncode.count(
              col(text), loadedStore(config, ctx)).cast("long")),
            "__bpe_w", true)
        case (Some(_), Some(_)) => throw new ConfigException(
          "pack_sequences: weightColumn and mergesView are mutually " +
            "exclusive — sequences pack in exactly one weight definition")
        case (None, None) => throw new ConfigException(
          "pack_sequences: needs weightColumn, or mergesView + textColumn " +
            "for tokenizer-exact packing")
      }
    val build =
      if (emit == "spans") () => PackSequences.packGrouped(
        staged, id, weightCol, groups, seqLen, nParts)
      else () => PackSequences.materialize(
        staged, id, TextColumn(config), weightCol, seqLen, nParts, groups)
    val packed =
      try build()
      catch { case e: IllegalArgumentException => throw new ConfigException(e.getMessage) }
    if (derived) packed.drop(weightCol) else packed
  }
}
