package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * Cross-document LINE deduplication — the C4-style preprocessing step the
 * document-level dedup family cannot express: boilerplate lines
 * (navigation, licenses, cookie banners) repeat across millions of pages
 * while the surrounding documents differ, so near-dup removal keeps them
 * all. Every distinct line keeps exactly ONE occurrence corpus-wide — the
 * lexicographically first (id, position) — and each document's text is
 * rebuilt from its surviving lines in original order.
 *
 * Scale shape: posexplode lines (zero shuffle), ONE aggregation keyed on
 * the line text (map-side partial min-structs collapse each partition's
 * repeats before the exchange), survivors join back on the same key
 * (AQE broadcasts the distinct-line survivor frame when it fits —
 * measured at sf0.01 — else an ordinary hash join), then one (id)-keyed
 * reduction rebuilds documents. Never a window over the corpus. The line
 * text rides the shuffles because reconstruction needs it back — at
 * 100 TB the shuffle is bounded by distinct-line volume after map-side
 * collapse, which for boilerplate-heavy web corpora is far below corpus
 * size.
 *
 * Lines shorter than `minLength` characters (default 1 — i.e. only empty
 * lines) never participate: they are kept verbatim wherever they appear,
 * preserving document structure.
 */
object LineDedup {
  /** @return `df` with `textCol` replaced by the line-deduped text (other
    *         columns untouched); null texts stay null, null-ID documents
    *         pass through verbatim (the id is the survivor tie-break and
    *         rebuild key), documents whose every line was seen earlier
    *         become empty strings. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 separator: String = "\n", minLength: Int = 1): DataFrame = {
    requireParams(separator, minLength)
    // the input is consumed THREE times (survivor election, the keep
    // join, and rebuild's id join) — without lineage truncation a
    // composed pipeline re-executes its whole upstream tower per
    // consumer (measured: dedup_lines after an html_strip + quality
    // stack cost 3.4 s where the stage's own work is ~1 s). The lazy
    // shared checkpoint (the tfidf pattern) materializes the frame on
    // first use and every consumer reads the same blocks.
    val staged = graft.api.Checkpointing.shared(df)
    val lines = lineRows(staged, idCol, textCol, separator)
    val survivors = lines.where(length(col("__ln")) >= minLength)
      .groupBy("__ln")
      .agg(min(struct(col("__id").as("__sid"), col("__pos").as("__spos"))).as("__first"))
      .select(col("__ln"), col("__first.__sid").as("__sid"), col("__first.__spos").as("__spos"))
    // short lines never join a survivor row (survivors hold only
    // participating lines) → null __sid → always kept
    val kept = lines.join(survivors, Seq("__ln"), "left")
      .where(col("__sid").isNull ||
        (col("__id") === col("__sid") && col("__pos") === col("__spos")))
    rebuild(staged, kept, idCol, textCol, separator)
  }

  /** The guard every entry point applies to its line parameters. */
  private def requireParams(separator: String, minLength: Int): Unit = {
    require(separator.nonEmpty, "dedupLines: separator must be non-empty")
    require(minLength >= 1, s"dedupLines: minLength must be >= 1, got $minLength")
  }

  /** (__id, __pos, __ln): every line of every id-bearing document. Null-id
    * docs cannot participate: the id is the survivor tie-break AND the
    * rebuild key, so a null id would elect un-rejoinable survivors
    * (disabling dedup for those lines corpus-wide) and blank the doc's
    * text on rebuild — they pass through verbatim instead. */
  private def lineRows(df: DataFrame, idCol: String, textCol: String,
                       separator: String): DataFrame =
    df.where(col(idCol).isNotNull).select(col(idCol).as("__id"),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(separator), -1)).as(Seq("__pos", "__ln")))

  /** Reassemble each document from its kept (__id, __pos, __ln) lines in
    * original order; null texts stay null, fully-deduped docs become "". */
  private def rebuild(df: DataFrame, kept: DataFrame, idCol: String,
                      textCol: String, separator: String): DataFrame = {
    val rebuilt = kept.groupBy("__id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__ln")))),
        x => x.getField("__ln")), separator).as("__newtext"))
    df.join(rebuilt, col(idCol) === col("__id"), "left")
      .withColumn(textCol, when(col(textCol).isNull, lit(null).cast("string"))
        // null-id docs never joined (they were excluded from the line
        // frames) — keep their text verbatim, never blank it
        .when(col(idCol).isNull, col(textCol))
        .otherwise(coalesce(col("__newtext"), lit(""))))
      .drop("__id", "__newtext")
  }

  /** INCREMENTAL variant: drop every line of `df` that appears ANYWHERE in
    * `ref` (the already-ingested corpus, or a curated boilerplate bank) —
    * today's crawl loses yesterday's boilerplate without rescanning
    * history per increment line. The reference reduces ONCE to the hash
    * frame [[lineSignatures]] stamps (a DISTINCT 32-byte line-hash frame,
    * broadcast-able when the boilerplate bank is small; an ordinary hash
    * join otherwise), so this is [[dedupLinesAgainstSignatures]] over a
    * store built in the same plan, without the stamp check. Lines shorter
    * than `minLength` never participate and are kept verbatim.
    * Within-increment repeats are NOT collapsed here — compose with
    * [[dedupLines]] when both are wanted. */
  def dedupLinesAgainst(df: DataFrame, idCol: String, textCol: String,
                        ref: DataFrame, refTextCol: String,
                        separator: String = "\n", minLength: Int = 1): DataFrame =
    dropReferenceLines(df, idCol, textCol,
      lineHashes(ref, refTextCol, separator, minLength), separator, minLength)

  /** The persistable LINE-HASH STORE: the distinct sha-256 of every
    * qualifying line of the reference corpus, parameter-stamped
    * (`ld_min_length`/`ld_separator` — RLE'd to ~nothing in parquet).
    * Write it after corpus build N; increments then drop
    * already-ingested lines via [[dedupLinesAgainstSignatures]] without
    * ever re-reading reference text — the line-level member of the
    * signature/gram/codebook/merges store family. The distinct shuffle
    * is paid ONCE at build time, amortized over every increment. */
  def lineSignatures(ref: DataFrame, textCol: String,
                     separator: String = "\n", minLength: Int = 1): DataFrame =
    lineHashes(ref, textCol, separator, minLength)
      .select(col("__h").as("lh"), lit(minLength).as("ld_min_length"),
        lit(separator).as("ld_separator"))

  /** The distinct sha-256 (`__h`) of every line of `ref` at least
    * `minLength` long: the reference side of both incremental forms. */
  private def lineHashes(ref: DataFrame, textCol: String, separator: String,
                         minLength: Int): DataFrame = {
    requireParams(separator, minLength)
    ref.select(explode(split(col(textCol),
        java.util.regex.Pattern.quote(separator), -1)).as("__ln"))
      .where(length(col("__ln")) >= minLength)
      .select(sha2(col("__ln"), 256).as("__h")).distinct()
  }

  /** [[dedupLinesAgainst]] with the reference side read from a PERSISTED
    * [[lineSignatures]] store — the loud-store contract shared with the
    * minhash/gram/merges stores: required stamp columns, single-valued
    * stamps matching this run's parameters (a separator or minLength
    * mismatch would hash different lines and silently drop nothing — the
    * worst failure mode for a boilerplate gate). */
  def dedupLinesAgainstSignatures(df: DataFrame, idCol: String, textCol: String,
                                  store: DataFrame, separator: String = "\n",
                                  minLength: Int = 1): DataFrame = {
    requireParams(separator, minLength)
    graft.operators.Stores.check(store, graft.operators.Stores.LineSignatures,
      minLength, separator)
    dropReferenceLines(df, idCol, textCol, store.select(col("lh").as("__h")),
      separator, minLength)
  }

  /** The reference core both incremental forms share: drop every line of
    * `df` whose sha-256 is in the `__h` column of `hashes`, then rebuild.
    * Only the hash column rides the anti-join; short lines get a null
    * hash, and null never matches an anti-join, so they are kept verbatim
    * (the [[dedupLines]] contract). */
  private def dropReferenceLines(df: DataFrame, idCol: String, textCol: String,
                                 hashes: DataFrame, separator: String,
                                 minLength: Int): DataFrame = {
    // consumed twice (line frame + rebuild's id join) — truncate lineage
    // so a composed upstream tower executes once (the dedupLines fix)
    val staged = graft.api.Checkpointing.shared(df)
    val kept = lineRows(staged, idCol, textCol, separator)
      .withColumn("__h",
        when(length(col("__ln")) >= minLength, sha2(col("__ln"), 256)))
      .join(hashes, Seq("__h"), "left_anti")
    rebuild(staged, kept, idCol, textCol, separator)
  }

  /** WITHIN-document variant: keep each participating line's first
    * occurrence inside its own document (Gopher-style repetition
    * removal). Pure per-row compute — a zero-shuffle codegen'd projection
    * ([[graft.functions.expressions.DedupLinesInDoc]]), no explode, no
    * line-keyed exchange; the right default when boilerplate repeats
    * within pages rather than across them. */
  def dedupLinesInDoc(df: DataFrame, textCol: String,
                      separator: String = "\n", minLength: Int = 1): DataFrame = {
    requireParams(separator, minLength)
    df.withColumn(textCol,
      graft.functions.expressions.DedupLinesInDoc(col(textCol), separator, minLength))
  }
}

/** The `separator`/`minLength` declarations both line transforms share,
  * with the bounds [[LineDedup]] requires, so the pre-flight check refuses
  * what the library would. */
private[dedup] trait LineKnobs extends Transform {
  protected val Separator = Opt.string("separator").map { s =>
    if (s.isEmpty) throw new ConfigException(s"$transformType: separator must be non-empty")
    s
  }.default("\n")
  protected val MinLength = Opt.int("minLength", min = 1).default(1)
}

/**
 * Declarative line dedup:
 *
 * {{{
 * - name: strip-boilerplate
 *   type: dedup_lines
 *   options: {idColumn: doc_id, textColumn: text, minLength: "20"}
 * }}}
 *
 * `separator` (default newline) generalizes to any span delimiter;
 * `minLength` keeps short structural lines out of the dedup set;
 * `scope: corpus (default) | document` — document keeps each line's first
 * occurrence within its own document only (a zero-shuffle projection;
 * `idColumn` not needed). With `referenceView` (+ optional
 * `referenceTextColumn`), corpus scope switches to INCREMENTAL mode:
 * drop lines already present in the named reference corpus instead of
 * deduping within the input — the line-level counterpart of
 * `dedup_against`. With `signatureView` instead, the reference is a
 * PERSISTED line-hash store (the [[LineDedup.lineSignatures]] layout,
 * built by the `line_signatures` transform) — the increment drops
 * history's lines without ever re-reading history's text.
 */
object LineDedupTransform extends LineKnobs {
  val transformType = "dedup_lines"
  private val TextColumn = Opt.column("textColumn").required
  // scope: corpus only
  private val IdColumn = Opt.column("idColumn")
  private val Scope = Opt.oneOf("scope", "corpus", "document").default("corpus")
  // scope: corpus, one of a reference corpus or a persisted line-hash store
  private val ReferenceView = Opt.view("referenceView")
  private val SignatureView = Opt.view("signatureView")
  private val ReferenceTextColumn = Opt.string("referenceTextColumn")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val separator = Separator(config)
    try {
    val minLength = MinLength(config)
    if (ReferenceView.isSet(config) && SignatureView.isSet(config))
      throw new ConfigException(
        "dedup_lines: referenceView and signatureView are mutually " +
          "exclusive — the reference is either a text corpus or a " +
          "precomputed line-hash store, not both")
    val text = TextColumn(config)
    Scope(config) match {
      case "corpus" if ReferenceView.isSet(config) =>
        LineDedup.dedupLinesAgainst(input, IdColumn(config), text,
          ReferenceView.table(config, ctx.spark),
          ReferenceTextColumn.get(config).getOrElse(text),
          separator = separator, minLength = minLength)
      case "corpus" if SignatureView.isSet(config) =>
        LineDedup.dedupLinesAgainstSignatures(input, IdColumn(config), text,
          SignatureView.table(config, ctx.spark),
          separator = separator, minLength = minLength)
      case "corpus" =>
        LineDedup.dedupLines(input, IdColumn(config), text,
          separator = separator, minLength = minLength)
      case _ =>
        if (ReferenceView.isSet(config) || SignatureView.isSet(config)) throw new ConfigException(
          "dedup_lines: referenceView/signatureView require scope: corpus " +
            "(document scope dedups within each row only — it never " +
            "consults a reference)")
        LineDedup.dedupLinesInDoc(input, text,
          separator = separator, minLength = minLength)
    }
    } catch { case e: IllegalArgumentException => throw new ConfigException(e.getMessage) }
  }
}

/**
 * Producer half of the persisted line-hash loop: REPLACE the frame with
 * the [[LineDedup.lineSignatures]] store (distinct sha-256 line hashes +
 * parameter stamps) for a file sink to persist. Run it at the end of
 * corpus build N; run N+1 registers the parquet and passes it to
 * `dedup_lines` via `signatureView` — increments drop already-ingested
 * boilerplate without re-scanning history. Options: `textColumn`
 * (required); `separator` (default newline), `minLength` (default 1) —
 * both stamped into the store and enforced at consume time.
 */
object LineSignaturesTransform extends LineKnobs {
  val transformType = "line_signatures"
  private val TextColumn = Opt.column("textColumn").required
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    try LineDedup.lineSignatures(input, TextColumn(config),
      separator = Separator(config), minLength = MinLength(config))
    catch { case e: IllegalArgumentException => throw new ConfigException(e.getMessage) }
  }
}
