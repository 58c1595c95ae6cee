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
 * caught but surviving text keeps its casing. The `*Against` variants
 * swap the duplication test for membership in a reference corpus —
 * span-level decontamination (strip benchmark text that leaked into
 * training documents without dropping the documents) and incremental
 * ingestion against yesterday's corpus.
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

  /** INCREMENTAL / decontamination variant: maximal runs of >= `n` tokens
    * that appear ANYWHERE in `ref` (yesterday's corpus, or a benchmark
    * suite) — span-level `dedup_against`. The reference reduces ONCE to a
    * DISTINCT 32-byte gram-hash frame (broadcast-able for benchmark-sized
    * references, an ordinary hash join otherwise); the increment's gram
    * stream semi-joins on the hash, so neither side's text rides the
    * exchange. Within-increment repetition is deliberately NOT considered
    * — compose with [[dupSpans]] when both are wanted. */
  def dupSpansAgainst(df: DataFrame, idCol: String, textCol: String,
                      ref: DataFrame, refTextCol: String, n: Int = 8): DataFrame = {
    require(n >= 2, s"dedup_spans: n must be >= 2, got $n")
    val refHashes = ref.select(explode(
        graft.functions.expressions.WordNgramStrings(col(refTextCol), n)).as("__g"))
      .select(sha2(col("__g"), 256).as("__h")).distinct()
    val hits = gramStarts(df, idCol, textCol, n)
      .where(col("__id").isNotNull) // null-id docs pass through verbatim
      .withColumn("__h", sha2(col("__gram"), 256))
      .join(refHashes, Seq("__h"), "left_semi")
      .select(col("__id"), (col("__p0") + 1).cast("long").as("__pos"))
    islandSpans(hits, idCol, n)
  }

  /** FIXED-SIZE variant of [[dupSpansAgainst]] for references too large to
    * join comfortably (yesterday's 100 TB corpus as the reference): the
    * reference's gram hashes reduce driver-side to one serialized bloom
    * sketch (same O(small-side) driver-read class as
    * [[Dedup.bloomDecontaminate]]), and the increment pays a zero-join
    * codegen'd `might_contain` filter instead of the semi-join exchange.
    * False positives only EXTEND removal to clean spans (probability ≈
    * fpp per gram) — reference text is never missed, the conservative
    * direction for decontamination. */
  def dupSpansAgainstBloom(df: DataFrame, idCol: String, textCol: String,
                           ref: DataFrame, refTextCol: String, n: Int = 8,
                           fpp: Double = 1e-4): DataFrame = {
    require(n >= 2, s"dedup_spans: n must be >= 2, got $n")
    require(fpp > 0 && fpp < 1, s"dedup_spans: fpp must be in (0,1), got $fpp")
    // the gram-hash stream stays NON-distinct: bloom insertion is
    // idempotent, so distinct() would only add a reference-sized shuffle
    // (twice — sizing job + build job) for nothing. Sizing comes from a
    // one-pass HLL estimate (zero shuffle, sketch-sized exchange) with 10%
    // headroom; an estimate a few percent low only nudges the effective
    // fpp up, and bloom false positives are already the documented
    // conservative direction (clean spans removed, never reference missed)
    val refHashes = ref.select(explode(
        graft.functions.expressions.WordNgramStrings(col(refTextCol), n)).as("__g"))
      .select(xxhash64(col("__g")).as("__gh"))
    val expected = math.max(
      (refHashes.agg(approx_count_distinct(col("__gh"))).head.getLong(0) * 1.1).toLong,
      64L)
    bloomIslandSpans(df, idCol, textCol, n,
      refHashes.stat.bloomFilter("__gh", expected, fpp))
  }

  /** Persistable gram-hash store for a reference corpus: the DISTINCT
    * `xxhash64` of every lowercased word n-gram, parameter-stamped with
    * the gram length. Build it over corpus N and persist via a file sink;
    * run N+1 re-loads the parquet and passes it to `dedup_spans` via
    * `signatureView` — span-level decontamination / incremental ingestion
    * WITHOUT re-scanning the reference's text (the span analogue of
    * [[Dedup.minhashSignatures]]). The distinct shuffle is paid once at
    * store-build time and amortized over every increment; the store is
    * one long + one int per distinct gram. */
  def gramSignatures(df: DataFrame, textCol: String, n: Int = 8): DataFrame = {
    require(n >= 2, s"gram_signatures: n must be >= 2, got $n")
    df.select(explode(
        graft.functions.expressions.WordNgramStrings(col(textCol), n)).as("__g"))
      .select(xxhash64(col("__g")).as("gh")).distinct()
      .withColumn("sg_n", lit(n))
  }

  /** [[dupSpansAgainst]] with the reference replaced by a PERSISTED
    * [[gramSignatures]] store — the increment's gram stream semi-joins the
    * slim hash frame; no reference text is read. Matching is on the
    * 64-bit gram hash: a birthday collision can only EXTEND removal to a
    * clean span (the conservative direction, same as the bloom path's
    * false positives). Fails fast on a missing/mismatched `sg_n` stamp —
    * a store built with a different gram length would silently match
    * nothing. */
  def dupSpansAgainstStore(df: DataFrame, idCol: String, textCol: String,
                           store: DataFrame, n: Int = 8): DataFrame = {
    val hashes = validatedStoreHashes(store, n)
    val hits = gramStarts(df, idCol, textCol, n)
      .where(col("__id").isNotNull) // null-id docs pass through verbatim
      .withColumn("__gh", xxhash64(col("__gram")))
      .join(hashes, Seq("__gh"), "left_semi")
      .select(col("__id"), (col("__p0") + 1).cast("long").as("__pos"))
    islandSpans(hits, idCol, n)
  }

  /** Bloom variant of [[dupSpansAgainstStore]]: the (already-distinct)
    * store folds into a fixed-size sketch — sized by an exact count over
    * the slim hash frame — and the increment pays the zero-join
    * `might_contain` filter. For stores too large to semi-join per
    * increment. */
  def dupSpansAgainstStoreBloom(df: DataFrame, idCol: String, textCol: String,
                                store: DataFrame, n: Int = 8,
                                fpp: Double = 1e-4): DataFrame = {
    require(fpp > 0 && fpp < 1, s"dedup_spans: fpp must be in (0,1), got $fpp")
    val hashes = validatedStoreHashes(store, n)
    bloomIslandSpans(df, idCol, textCol, n,
      hashes.stat.bloomFilter("__gh", math.max(hashes.count(), 64L), fpp))
  }

  /** Shared tail of both bloom paths (text reference and persisted
    * store): serialize the sketch once, filter the increment's gram
    * stream with the zero-join codegen'd `might_contain`, island the
    * surviving starts. */
  private def bloomIslandSpans(df: DataFrame, idCol: String, textCol: String,
                               n: Int,
                               bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    import org.apache.spark.sql.GraftBridge
    val mightContain = GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        GraftBridge.expression(lit(bos.toByteArray)),
        GraftBridge.expression(xxhash64(col("__gram")))))
    val hits = gramStarts(df, idCol, textCol, n)
      .where(col("__id").isNotNull) // null-id docs pass through verbatim
      .where(mightContain)
      .select(col("__id"), (col("__p0") + 1).cast("long").as("__pos"))
    islandSpans(hits, idCol, n)
  }

  /** Removal through the store — see [[dupSpansAgainstStore]]. */
  def removeSpansAgainstStore(df: DataFrame, idCol: String, textCol: String,
                              store: DataFrame, n: Int = 8): DataFrame =
    removeSpans(df, idCol, textCol, dupSpansAgainstStore(df, idCol, textCol, store, n))

  /** Removal through the store's bloom path — see
    * [[dupSpansAgainstStoreBloom]]. */
  def removeSpansAgainstStoreBloom(df: DataFrame, idCol: String, textCol: String,
                                   store: DataFrame, n: Int = 8,
                                   fpp: Double = 1e-4): DataFrame =
    removeSpans(df, idCol, textCol,
      dupSpansAgainstStoreBloom(df, idCol, textCol, store, n, fpp))

  /** Layout + parameter-stamp validation for a [[gramSignatures]] store
    * ([[graft.operators.Stores.check]]); returns the slim hash frame keyed
    * `__gh`. */
  private def validatedStoreHashes(store: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"dedup_spans: n must be >= 2, got $n")
    graft.operators.Stores.check(store, graft.operators.Stores.GramSignatures, n)
    store.select(col("gh").as("__gh"))
  }

  /** Remove every occurrence of every duplicated span from `textCol`
    * (other columns untouched). Documents without duplicated spans are
    * byte-identical to their input (no retokenization); affected
    * documents are rebuilt from their surviving original-case tokens
    * joined by single spaces — fully-duplicated documents become empty
    * strings, null texts stay null. */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, minCount: Int = 2): DataFrame =
    removeSpans(df, idCol, textCol, dupSpans(df, idCol, textCol, n, minCount))

  /** Remove every span present in `ref` from `textCol` — benchmark
    * decontamination / incremental ingestion with surgical span removal
    * instead of whole-document drops (the `decontaminate` transform's
    * document-level gate). Same rebuild contract as [[removeDupSpans]]. */
  def removeSpansAgainst(df: DataFrame, idCol: String, textCol: String,
                         ref: DataFrame, refTextCol: String, n: Int = 8): DataFrame =
    removeSpans(df, idCol, textCol,
      dupSpansAgainst(df, idCol, textCol, ref, refTextCol, n))

  /** Removal through the bloom path — see [[dupSpansAgainstBloom]]. */
  def removeSpansAgainstBloom(df: DataFrame, idCol: String, textCol: String,
                              ref: DataFrame, refTextCol: String, n: Int = 8,
                              fpp: Double = 1e-4): DataFrame =
    removeSpans(df, idCol, textCol,
      dupSpansAgainstBloom(df, idCol, textCol, ref, refTextCol, n, fpp))

  /** Rewrite `textCol` dropping every token covered by a span in `spans`
    * (the output shape of [[dupSpans]]). Affected documents rebuild from
    * original-case tokens; unaffected documents pass through byte-identical. */
  private def removeSpans(df: DataFrame, idCol: String, textCol: String,
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
  private val N = Opt.int("n").default(8)
  private val MinCount = Opt.int("minCount").default(2)
  private val ReferenceView = Opt.view("referenceView")
  private val ReferenceTextColumn = Opt.string("referenceTextColumn")
  private val SignatureView = Opt.view("signatureView")
  private val Method = Opt.oneOf("method", "exact", "bloom").default("exact")
  private val Fpp = Opt.double("fpp").default(1e-4)
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
    val method = Method(config)
    if (method == "bloom" && ref.isEmpty && sig.isEmpty) throw new ConfigException(
      "dedup_spans: method bloom requires referenceView or signatureView " +
        "(corpus-scope duplication needs exact counts, not membership)")
    // fpp only parameterizes the bloom sketch — with method=exact the user
    // likely meant method: bloom; reject rather than silently ignore
    if (method != "bloom" && Fpp.isSet(config))
      throw new ConfigException(
        "dedup_spans: fpp only applies with method: bloom — the exact path " +
          "has no false-positive rate to configure")
    val fpp = Fpp(config)
    val report = Mode(config) == "report"
    // every branch consumes the input at least twice (the gram stream,
    // corpus-scope dup counting, and remove-mode's rebuild join) — in a
    // composed pipeline each consumer would re-execute the whole upstream
    // tower without lineage truncation (the dedupLines/NearDupTransform
    // fix, measured 2-3x stage cost on q154's stack)
    val staged = graft.api.Checkpointing.shared(input)
    (ref, sig, method, report) match {
      case (Some((r, rt)), None, "bloom", false) =>
        SpanDedup.removeSpansAgainstBloom(staged, id, text, r, rt, n, fpp)
      case (Some((r, rt)), None, "bloom", true) =>
        SpanDedup.dupSpansAgainstBloom(staged, id, text, r, rt, n, fpp)
      case (Some((r, rt)), None, _, false) =>
        SpanDedup.removeSpansAgainst(staged, id, text, r, rt, n)
      case (Some((r, rt)), None, _, true) =>
        SpanDedup.dupSpansAgainst(staged, id, text, r, rt, n)
      case (None, Some(st), "bloom", false) =>
        SpanDedup.removeSpansAgainstStoreBloom(staged, id, text, st, n, fpp)
      case (None, Some(st), "bloom", true) =>
        SpanDedup.dupSpansAgainstStoreBloom(staged, id, text, st, n, fpp)
      case (None, Some(st), _, false) =>
        SpanDedup.removeSpansAgainstStore(staged, id, text, st, n)
      case (None, Some(st), _, true) =>
        SpanDedup.dupSpansAgainstStore(staged, id, text, st, n)
      case (None, None, _, false) =>
        SpanDedup.removeDupSpans(staged, id, text, n, minCount)
      case (None, None, _, true) =>
        SpanDedup.dupSpans(staged, id, text, n, minCount)
      case _ => throw new IllegalStateException("unreachable")
    }
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
  private val N = Opt.int("n").default(8)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    try SpanDedup.gramSignatures(input, TextColumn(config), N(config))
    catch { case e: IllegalArgumentException => throw new ConfigException(e.getMessage) }
  }
}
