package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * Cross-document SPAN deduplication (ExactSubstr-style: "Deduplicating
 * Training Data Makes Language Models Better", Lee et al. 2022): find
 * maximal runs of >= `n` consecutive tokens that occur at least
 * `minCount` times corpus-wide (across documents or repeated within
 * one), and optionally remove EVERY occurrence — the published
 * ExactSubstr semantics, which drops all copies of a duplicated span
 * rather than electing a survivor (survivor election over overlapping
 * substrings has no stable distributed definition; the line-level
 * operator [[LineDedup]] covers keep-first semantics for delimited
 * units).
 *
 * Mechanics: every word `n`-gram is a probe. A token belongs to a
 * duplicated span iff some duplicated n-gram's window covers it;
 * duplicated gram starts whose coverage windows overlap or touch merge
 * into maximal DISJOINT spans of covered tokens (gaps-and-islands on the
 * coverage gap). Matching is over lowercased `\s+`-tokenization
 * ([[graft.functions.TextFunctions.tokens]] parity); removal rebuilds
 * from the ORIGINAL-case tokens, so only case-insensitive repetition is
 * caught but surviving text keeps its casing. The reference variants
 * swap the duplication test for membership in a reference given as one
 * frame of 64-bit gram hashes, whatever its source (a text corpus's
 * [[SpanDedup.gramHashes]] or a persisted [[SpanDedup.gramSignatures]]
 * store): an exact semi-join ([[SpanDedup.referenceSpans]]) or a bloom
 * probe ([[SpanDedup.referenceSpansBloom]]) — span-level decontamination
 * (strip benchmark text that leaked into training documents without
 * dropping the documents) and incremental ingestion against yesterday's
 * corpus. [[SpanDedup.removeSpans]] turns any of their span tables into
 * the rewritten text.
 *
 * Scale shape: zero-shuffle n-gram explodes
 * ([[graft.functions.expressions.WordNgramStrings]], codegen'd) over two
 * column-pruned scans — the count branch reads text only, the position
 * branch re-derives grams (cheaper than materializing a corpus-sized
 * gram checkpoint); ONE aggregation keyed on the gram (map-side partials
 * collapse each partition's repeats before the exchange — the
 * suffix-array batch job the paper builds is replaced by the gram-keyed
 * exchange Spark already does well); the duplicated-gram frame is tiny
 * after the `minCount` filter, so AQE broadcasts it into the position
 * branch (measured: BroadcastHashJoin at sf0.01); islands use a
 * per-document window (never a corpus-global one). Removal adds one
 * doc-keyed reduction over the (tiny) duplicated-span frame and a
 * per-row index filter — documents without spans are left
 * byte-identical. At 100 TB the gram exchange is bounded by
 * distinct-gram volume after map-side collapse; `n` >= 8 keeps
 * coincidental collisions (and gram volume) down, the same knob the
 * paper's 50-token threshold turns.
 */
object SpanDedup {

  /** Maximal duplicated spans: one row per (document, span), with
    * 1-based inclusive token coordinates.
    *
    * @return (idCol, start_tok, end_tok, n_toks) — all span columns
    *         LongType, sorted consumers' concern. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               n: Int = 8, minCount: Int = 2): DataFrame = {
    require(n >= 2, s"dedup_spans: n must be >= 2, got $n")
    require(minCount >= 2, s"dedup_spans: minCount must be >= 2, got $minCount")
    islandSpans(dupGramStarts(df, idCol, textCol, n, minCount), idCol, n)
  }

  /** The gram-hash frame of a text reference: the 64-bit `xxhash64` of
    * every lowercased word `n`-gram of `textCol` as column `gh`, one row
    * per occurrence. Not distinct: a bloom probe
    * ([[referenceSpansBloom]]) folds repeats for free, so the reference
    * pays no shuffle; [[gramSignatures]] adds the distinct a semi-join
    * build side wants. */
  def gramHashes(df: DataFrame, textCol: String, n: Int = 8): DataFrame = {
    require(n >= 2, s"gram_signatures: n must be >= 2, got $n")
    df.select(explode(
        graft.functions.expressions.WordNgramStrings(col(textCol), n)).as("__g"))
      .select(xxhash64(col("__g")).as("gh"))
  }

  /** Persistable gram-hash store for a reference corpus: the DISTINCT
    * [[gramHashes]], parameter-stamped with the gram length. Build it over
    * corpus N and persist via a file sink; run N+1 re-loads the parquet
    * and passes it to `dedup_spans` via `signatureView` — span-level
    * decontamination / incremental ingestion WITHOUT re-scanning the
    * reference's text (the span analogue of [[Dedup.minhashSignatures]]).
    * The distinct shuffle is paid once at store-build time and amortized
    * over every increment; the store is one long + one int per distinct
    * gram. Its `gh` column is also the exact text-reference path's hash
    * frame, so a store and the text it was built from match the same
    * spans by construction. */
  def gramSignatures(df: DataFrame, textCol: String, n: Int = 8): DataFrame =
    gramHashes(df, textCol, n).distinct().withColumn("sg_n", lit(n))

  /** The `gh` hash frame of a PERSISTED [[gramSignatures]] store, after
    * the layout and parameter-stamp check ([[graft.operators.Stores.check]]):
    * a store built with a different gram length would silently match
    * nothing, so a missing or mismatched `sg_n` fails fast. */
  def storeHashes(store: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 2, s"dedup_spans: n must be >= 2, got $n")
    graft.operators.Stores.check(store, graft.operators.Stores.GramSignatures, n)
    store.select("gh")
  }

  /** Reference variant of [[dupSpans]]: maximal runs of >= `n` tokens
    * whose grams appear in a reference, given as a one-column frame of
    * 64-bit gram hashes ([[gramHashes]] of a text corpus, distinct as in
    * [[gramSignatures]], or a store's [[storeHashes]]) — span-level
    * decontamination (strip benchmark text) and incremental ingestion
    * (against yesterday's corpus). The increment's gram stream semi-joins
    * the hash frame (broadcast-able for benchmark-sized references, an
    * ordinary hash join otherwise), so neither side's text rides the
    * exchange. A 64-bit collision can only EXTEND removal to a clean span,
    * the conservative direction. Within-increment repetition is
    * deliberately NOT considered — compose with [[dupSpans]] when both
    * are wanted. */
  def referenceSpans(df: DataFrame, idCol: String, textCol: String,
                     hashes: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 2, s"dedup_spans: n must be >= 2, got $n")
    val hits = gramStarts(df, idCol, textCol, n)
      .where(col("__id").isNotNull) // null-id docs pass through verbatim
      .withColumn("__gh", xxhash64(col("__gram")))
      .join(hashes.select(col(hashes.columns.head).as("__gh")), Seq("__gh"),
        "left_semi")
      .select(col("__id"), (col("__p0") + 1).cast("long").as("__pos"))
    islandSpans(hits, idCol, n)
  }

  /** FIXED-SIZE variant of [[referenceSpans]] for references too large to
    * join per increment (yesterday's 100 TB corpus): the hash frame folds
    * into one serialized bloom sketch ([[Dedup.bloomProbe]]), sized by a
    * one-pass HLL estimate of its distinct hashes with 10% headroom (zero
    * shuffle, so a non-distinct text [[gramHashes]] frame costs the
    * reference no exchange; an estimate a few percent low only nudges the
    * effective fpp up), and the increment pays a zero-join codegen'd
    * `might_contain` filter instead of the semi-join exchange. False
    * positives only EXTEND removal to clean spans (probability ≈ fpp per
    * gram) — reference text is never missed. */
  def referenceSpansBloom(df: DataFrame, idCol: String, textCol: String,
                          hashes: DataFrame, n: Int = 8,
                          fpp: Double = 1e-4): DataFrame = {
    require(n >= 2, s"dedup_spans: n must be >= 2, got $n")
    require(fpp > 0 && fpp < 1, s"dedup_spans: fpp must be in (0,1), got $fpp")
    val expected = math.max(
      (hashes.agg(approx_count_distinct(col(hashes.columns.head)))
        .head.getLong(0) * 1.1).toLong, 64L)
    val mightContain = Dedup.bloomProbe(hashes, expected, fpp)
    val hits = gramStarts(df, idCol, textCol, n)
      .where(col("__id").isNotNull) // null-id docs pass through verbatim
      .where(mightContain(xxhash64(col("__gram"))))
      .select(col("__id"), (col("__p0") + 1).cast("long").as("__pos"))
    islandSpans(hits, idCol, n)
  }

  /** Remove every span of `spanFrame` (the output shape of [[dupSpans]]
    * and [[referenceSpans]]) from `textCol`, other columns untouched.
    * Documents without spans are byte-identical to their input (no
    * retokenization); affected documents are rebuilt from their surviving
    * original-case tokens joined by single spaces — fully-covered
    * documents become empty strings, null texts stay null. */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
                          spanFrame: DataFrame): DataFrame = {
    val spans = spanFrame
      .groupBy(col(idCol).as("__sid"))
      .agg(collect_list(struct(col("start_tok").as("s"), col("end_tok").as("e")))
        .as("__spans"))
    // original-case tokens; empty tokens dropped to keep positions
    // aligned with the lowercased matching stream
    val toks = filter(split(trim(col(textCol)), "\\s+"), t => t =!= "")
    df.join(spans, col(idCol) === col("__sid"), "left")
      .withColumn(textCol, when(col("__spans").isNull, col(textCol))
        .otherwise(array_join(
          filter(toks, (_, i) => !exists(col("__spans"),
            s => i + 1 >= s.getField("s") && i + 1 <= s.getField("e"))),
          " ")))
      .drop("__sid", "__spans")
  }

  /** (__id, __p0, __gram): every n-gram with its 0-based start token.
    * Null-id rows are KEPT here — their grams are duplication evidence for
    * the minCount branch; consumers that emit per-document POSITIONS must
    * filter `__id IS NOT NULL` (null-id documents pass through verbatim,
    * the LineDedup contract — without the filter every null-id document
    * lands in ONE islandSpans window partition, interleaving gram
    * positions across documents into bogus merged spans in report mode). */
  private def gramStarts(df: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame =
    df.select(col(idCol).as("__id"),
      posexplode(graft.functions.expressions.WordNgramStrings(col(textCol), n))
        .as(Seq("__p0", "__gram")))

  /** (__id, __pos) of every duplicated n-gram's 1-based start token.
    * Null-id grams COUNT toward minCount (a run shared between an
    * id-bearing doc and a null-id doc is still a duplicate in the former)
    * but emit no positions of their own. */
  private def dupGramStarts(df: DataFrame, idCol: String, textCol: String,
                            n: Int, minCount: Int): DataFrame = {
    val grams = gramStarts(df, idCol, textCol, n)
    val dup = grams.groupBy("__gram").agg(count(lit(1)).as("__cnt"))
      .where(col("__cnt") >= minCount).select("__gram")
    grams.where(col("__id").isNotNull).join(dup, Seq("__gram"))
      .select(col("__id"), (col("__p0") + 1).cast("long").as("__pos"))
  }

  /** Merge 1-based gram-start positions into maximal runs of COVERED
    * tokens (gaps-and-islands, per-document window): gram start `s` covers
    * tokens [s, s+n-1], and two sorted starts belong to one run iff the
    * later one begins before the earlier one's coverage ends (plus
    * adjacency), i.e. gap <= n. A simple consecutive-start merge would
    * emit OVERLAPPING spans for starts at distance 2..n — double-counting
    * n_toks and breaking the disjoint-maximal-span contract — so the
    * island break is lag-based on the coverage gap. */
  private def islandSpans(hits: DataFrame, idCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy("__id").orderBy("__pos")
    hits
      .withColumn("__new",
        when(col("__pos") - lag("__pos", 1).over(w) > n, 1L).otherwise(0L))
      .withColumn("__isl", sum("__new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__id"), col("__isl"))
      .agg(min("__pos").as("start_tok"),
        (max("__pos") + (n - 1)).cast("long").as("end_tok"))
      .select(col("__id").as(idCol), col("start_tok").cast("long"),
        col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).cast("long").as("n_toks"))
  }
}

/**
 * Declarative span dedup:
 *
 * {{{
 * - name: strip-repeated-spans
 *   type: dedup_spans
 *   options: {idColumn: doc_id, textColumn: text, n: "8", minCount: "2"}
 * }}}
 *
 * `mode: remove (default) | report` — report yields the span table
 * (idColumn, start_tok, end_tok, n_toks) instead of rewriting text;
 * `n` is the minimum duplicated run length in tokens, `minCount` the
 * corpus-wide occurrence threshold. With `referenceView` (+ optional
 * `referenceTextColumn`) the duplication test switches to "appears
 * anywhere in the named reference corpus" — span-level decontamination /
 * incremental ingestion (`minCount` does not apply; within-increment
 * repeats are left to a composed corpus-scope pass). With `signatureView`
 * instead, the reference is a PERSISTED [[SpanDedup.gramSignatures]]
 * store (typically yesterday's `gram_signatures` output re-loaded from
 * parquet) — the increment strips reference spans without re-reading the
 * reference's text. `method: bloom` (+ `fpp`, reference/signature modes
 * only) swaps the semi-join for a fixed-size bloom sketch and a zero-join
 * `might_contain` filter — for references too large to join per
 * increment.
 */
object SpanDedupTransform extends Transform {
  val transformType = "dedup_spans"
  private val IdColumn = Opt.column("idColumn").required
  private val TextColumn = Opt.column("textColumn").required
  private val N = Opt.int("n", min = 2).default(8)
  private val MinCount = Opt.int("minCount", min = 2).default(2)
  private val ReferenceView = Opt.view("referenceView")
  private val ReferenceTextColumn = Opt.string("referenceTextColumn")
  private val SignatureView = Opt.view("signatureView")
  private val Method = Opt.oneOf("method", "exact", "bloom").default("exact")
  private val Fpp = Dedup.fppOption
  private val Mode = Opt.oneOf("mode", "remove", "report").default("remove")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val id = IdColumn(config); val text = TextColumn(config)
    try {
    val n = N(config)
    val minCount = MinCount(config)
    val ref = ReferenceView.tableIfSet(config, ctx.spark).map(v =>
      (v, ReferenceTextColumn.get(config).getOrElse(text)))
    val sig = SignatureView.tableIfSet(config, ctx.spark)
    if (ref.isDefined && sig.isDefined) throw new ConfigException(
      "dedup_spans: referenceView and signatureView are mutually exclusive — " +
        "the reference is either a text corpus or a precomputed gram-hash " +
        "store, not both")
    if ((ref.isDefined || sig.isDefined) && MinCount.isSet(config))
      throw new ConfigException("dedup_spans: minCount does not apply with " +
        "referenceView/signatureView (any reference occurrence marks the span)")
    val bloom = Method(config) == "bloom"
    if (bloom && ref.isEmpty && sig.isEmpty) throw new ConfigException(
      "dedup_spans: method bloom requires referenceView or signatureView " +
        "(corpus-scope duplication needs exact counts, not membership)")
    // fpp only parameterizes the bloom sketch — with method=exact the user
    // likely meant method: bloom; reject rather than silently ignore
    if (!bloom && Fpp.isSet(config))
      throw new ConfigException(
        "dedup_spans: fpp only applies with method: bloom — the exact path " +
          "has no false-positive rate to configure")
    // every branch consumes the input at least twice (the gram stream,
    // corpus-scope dup counting, and remove-mode's rebuild join) — in a
    // composed pipeline each consumer would re-execute the whole upstream
    // tower without lineage truncation (the dedupLines/NearDupTransform
    // fix, measured 2-3x stage cost on q154's stack)
    val staged = graft.api.Checkpointing.shared(input)
    // the reference as a gram-hash frame: bloom insertion is idempotent,
    // so only the semi-join's build side pays for distinct hashes
    val hashes = ref.map { case (r, rt) =>
        if (bloom) SpanDedup.gramHashes(r, rt, n)
        else SpanDedup.gramSignatures(r, rt, n).select("gh")
      }.orElse(sig.map(SpanDedup.storeHashes(_, n)))
    val spans = hashes match {
      case None => SpanDedup.dupSpans(staged, id, text, n, minCount)
      case Some(h) if bloom =>
        SpanDedup.referenceSpansBloom(staged, id, text, h, n, Fpp(config))
      case Some(h) => SpanDedup.referenceSpans(staged, id, text, h, n)
    }
    if (Mode(config) == "report") spans
    else SpanDedup.removeSpans(staged, id, text, spans)
    } catch { case e: IllegalArgumentException => throw new ConfigException(e.getMessage) }
  }
}

/** Producer half of the persisted gram-hash loop: projects the input
  * corpus to the [[SpanDedup.gramSignatures]] store layout (gh, sg_n) for
  * a file sink to persist. Run it at the end of corpus build N; run N+1
  * loads the parquet, registers it as a view, and passes it to
  * `dedup_spans` via `signatureView` — span-level decontamination without
  * re-scanning history's text. Options: textColumn required; n (8). */
object GramSignaturesTransform extends Transform {
  val transformType = "gram_signatures"
  private val TextColumn = Opt.column("textColumn").required
  private val N = Opt.int("n", min = 2).default(8)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    try SpanDedup.gramSignatures(input, TextColumn(config), N(config))
    catch { case e: IllegalArgumentException => throw new ConfigException(e.getMessage) }
  }
}
