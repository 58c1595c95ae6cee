package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.ConfigException

/**
 * Per-label character n-gram language models — the trained upgrade over
 * the stopword-hit `langId` heuristic (`TextFunctions.langId`, 5 fixed
 * languages), in the CCNet / fastText tradition of char-n-gram language
 * identification. The reference engine has no trained-model surface at
 * all (its closest analogue is the fixed filter/map expression registry,
 * `/root/reference/src/main/scala/com/etl/transformer/MapTransformer.scala:31`);
 * this is part of graft's LLM-curation superset.
 *
 * Two halves, split across runs the way the merges / codebook /
 * signature stores are:
 *
 *  - [[modelFrame]] (the `chargram_lm` transform): ONE (label, gram)
 *    aggregation over a labeled corpus → a persistable, parameter-stamped
 *    count store. The shuffle carries map-side (label, gram) partials,
 *    never rows; the result is vocabulary-bounded (≤ labels · alphabet^n
 *    rows) — the codebook-class driver-read size, not corpus-sized.
 *  - [[classify]] (the `lang_classify` transform): score every document
 *    against every label under add-one smoothing over the store's union
 *    vocabulary and append the argmax label — ONE zero-shuffle codegen'd
 *    projection against the broadcast
 *    [[graft.functions.expressions.LangLmModel]] reference object (the
 *    BpeEncode merges-object pattern): the smoothed likelihood factors
 *    so unmatched grams fold into a per-label constant, and a document
 *    scores all labels in a single pass over its own gram stream.
 *
 * Scoring: log-likelihood of the document's gram multiset under each
 * label's smoothed unigram-of-grams model,
 * `score(L) = Σ_g tf(g) · ln((cnt_L(g) + 1) / (total_L + V))`,
 * where `V` is the store's union vocabulary size, `total_L` the label's
 * stored gram mass, and grams absent from label L (or from the store
 * entirely) take the `cnt = 0` smoothed term. Ties break toward the
 * LARGER label string (max over (score, label) structs) — the exact
 * convention `langId` and its q109 oracle established. Documents that
 * produce no grams (null text, or shorter than `n` chars) classify as
 * `"und"`, like `langId`.
 */
object ChargramLm {

  /** Lowercased char-n-gram (gram, tf) frame per key — DELEGATES to the
    * one shared gram builder (`TextFunctions.charGramTermFrequencies`),
    * so the chargram_lm store can never silently drift from the
    * chargram_nll / importance_score gram stream it is documented to
    * share; only the key column is renamed (labels replace doc ids at
    * train time). */
  private def gramFrequencies(df: DataFrame, keyCol: Column, keyName: String,
                              textCol: String, n: Int): DataFrame =
    graft.functions.TextFunctions.charGramTermFrequencies(df, keyCol, textCol, n)
      .withColumnRenamed("doc_id", keyName)

  /**
   * The persistable MODEL STORE: per-(label, gram) counts over the
   * labeled corpus, parameter-stamped (`clm_n`, `clm_min_count` — RLE'd
   * to ~nothing in parquet). Null/empty-label rows are refused loudly
   * (a silently skipped stratum would bias every later classify);
   * `minCount` prunes grams rarer than the floor WITHIN their label,
   * bounding store size on noisy corpora. Fails when no (label, gram)
   * survives — an empty model classifies nothing and must say so at
   * train time (the `mergesFrame` empty-corpus discipline).
   */
  def modelFrame(corpus: DataFrame, labelCol: String, textCol: String,
                 n: Int = 3, minCount: Long = 1L): DataFrame = {
    require(n >= 1, s"chargram_lm: n must be >= 1, got $n")
    require(minCount >= 1, s"chargram_lm: minCount must be >= 1, got $minCount")
    // null/blank labels fail IN-PLAN (raise_error), not via a pre-scan:
    // the check rides the one training pass instead of costing a second
    // full corpus read, and a silently skipped stratum would bias every
    // later classification
    val guardedLabel = when(
      col(labelCol).isNull || length(trim(col(labelCol))) === 0,
      raise_error(lit(
        s"chargram_lm: column '$labelCol' carries null/blank labels — a " +
          "silently skipped stratum would bias every later classification; " +
          "filter or fill them explicitly before training")))
      .otherwise(col(labelCol).cast("string"))
    // lazily checkpointed so the train-time empty check below and the
    // caller's store write materialize the aggregation ONCE
    val counts = graft.api.Checkpointing.checkpoint(
      gramFrequencies(corpus, guardedLabel, "label", textCol, n)
        .groupBy("label", "gram").agg(sum("tf").as("cnt"))
        .where(col("cnt") >= minCount)
        .withColumn("clm_n", lit(n))
        .withColumn("clm_min_count", lit(minCount)),
      eager = false)
    // fail HERE, at train time, with the real cause — not at the first
    // load's "zero gram rows" (the mergesFrame empty-corpus discipline)
    if (counts.limit(1).count() == 0) throw new ConfigException(
      s"chargram_lm: no (label, gram) pair survived (every text null or " +
        s"shorter than n=$n characters, or minCount=$minCount pruned " +
        "everything) — a language model cannot be trained on an empty " +
        "gram table; check the text column or lower minCount")
    counts
  }

  /** A validated store, fully materialized into the scoring reference
    * object (the [[graft.functions.expressions.BpeEncode]] merges-object
    * class of driver state — the store is vocab-bounded by construction). */
  final case class Loaded(model: graft.functions.expressions.LangLmModel,
                          n: Int, minCount: Long)

  /**
   * Load + validate a persisted [[modelFrame]] store into the in-memory
   * scoring model: required columns, single-valued stamps, optional
   * caller expectations (`wantN` / `wantMinCount` must match the training
   * stamps — a mismatched `n` would slice different grams and score
   * garbage), a `maxLabels` guard (per-label state rides every row's
   * score vector), and a `maxModelRows` guard on the ONE driver collect
   * (the store is ≤ labels · alphabet^n rows by construction — the
   * merges/codebook driver-read class — but a mis-pointed view must fail
   * with guidance, never OOM the driver). maxModelRows bounds the WHOLE
   * in-memory model: the scoring representation is SPARSE — each gram
   * carries only its stored (labelIdx, ln(cnt+1)) pairs, one pair per
   * store row — so footprint is O(rows · ~16 B) regardless of how
   * label-disjoint the vocabularies are. (The former dense layout
   * allocated distinct_grams × labels doubles and needed a separate
   * `maxModelCells` ceiling for exactly that product; the sparse model
   * lifted it — scores are identical, the dropped cells were exact 0.0.)
   */
  def load(store: DataFrame, wantN: Option[Int] = None,
           wantMinCount: Option[Long] = None, maxLabels: Int = 1000,
           maxModelRows: Long = 5000000L): Loaded = {
    import graft.operators.Stores
    // ONE bounded driver collect: limit(cap+1) guarantees no more than
    // maxModelRows+1 rows ever reach the driver, one extra row proves the
    // violation, and the stamps are read from the collected rows
    val rows = Stores.collect(store, Stores.ChargramLm, Seq(
        col("label").cast("string"), col("gram"), col("cnt").cast("long")),
      limit = math.min(maxModelRows + 1, Int.MaxValue.toLong).toInt)
    if (rows.length > maxModelRows) throw new ConfigException(
      s"chargram_lm store holds more than maxModelRows=$maxModelRows gram " +
        "rows — the model is one driver/broadcast object (labels × " +
        "vocabulary ln-tables); a store this wide is either a mis-pointed " +
        "view or needs a coarser n/minCount")
    val st = Stores.stampsOf(Stores.ChargramLm, rows, 3, wantN, wantMinCount)
    val (gotN, gotMin) = (st(0).asInstanceOf[Int], st(1).asInstanceOf[Long])
    // UTF-8 BYTE order, not String.compareTo's UTF-16 code-unit order:
    // LangScores' ascending `>=` scan makes the LAST label win ties, and
    // the claimed convention (Spark struct max / DuckDB max — both binary
    // collation) diverges from UTF-16 exactly where Bpe.utf8Less documents
    // (non-BMP codepoints vs U+E000..U+FFFF)
    val labels = rows.map(_.getString(0)).distinct.sortWith(Bpe.utf8Less)
    if (labels.length > maxLabels) throw new ConfigException(
      s"chargram_lm store carries ${labels.length} labels, above " +
        s"maxLabels=$maxLabels — every row scores a labels-wide vector, so " +
        "a label set this wide is a different algorithm; raise maxLabels " +
        "only if that cost is genuinely intended")
    val labelIdx = labels.zipWithIndex.toMap
    // duplicate-(label, gram) guard: a store appended twice from the SAME
    // build carries identical clm_* stamps, so the mixed-stamp check above
    // cannot see it — but totals would double-count while byGram keeps one
    // copy's ln(cnt+1), silently skewing every score (the Bpe.loadStore
    // checkDense discipline, stated for the (label, gram) key)
    if (rows.iterator.map(r => (r.getString(0), r.getString(1))).toSet.size
        != rows.length) throw new ConfigException(
      "chargram_lm store carries duplicate (label, gram) rows — an " +
        "appended or unioned store double-counts gram mass and skews " +
        "every score; rebuild it with a single chargram_lm pass")
    val v = rows.iterator.map(_.getString(1)).toSet.size
    val totals = new Array[Long](labels.length)
    rows.foreach(r => totals(labelIdx(r.getString(0))) += r.getLong(2))
    val lnDen = totals.map(t => math.log((t + v).toDouble))
    // gram → SPARSE (labelIdx, ln(cnt+1)) pairs, precomputed once (no
    // libm in the row loop): one pair per store row, so the model costs
    // O(rows) regardless of how label-disjoint the vocabularies are —
    // a dense grams × labels layout here needed a separate cell ceiling
    val byGram = new scala.collection.mutable.HashMap[
      String, scala.collection.mutable.ArrayBuffer[(Int, Double)]]()
    rows.foreach { r =>
      byGram.getOrElseUpdate(r.getString(1),
        new scala.collection.mutable.ArrayBuffer[(Int, Double)](4)) +=
        ((labelIdx(r.getString(0)), math.log((r.getLong(2) + 1L).toDouble)))
    }
    val keys = new Array[String](byGram.size)
    val idxs = new Array[Array[Int]](byGram.size)
    val lns = new Array[Array[Double]](byGram.size)
    var gi = 0
    byGram.foreach { case (g, pairs) =>
      // ascending label index is the Entry contract (LmNll binary-searches)
      val sorted = pairs.sortInPlace()(Ordering.by(_._1))
      keys(gi) = g
      idxs(gi) = sorted.iterator.map(_._1).toArray
      lns(gi) = sorted.iterator.map(_._2).toArray
      gi += 1
    }
    Loaded(new graft.functions.expressions.LangLmModel(
        labels, lnDen, keys, idxs, lns),
      gotN, gotMin)
  }

  /**
   * Append the model's argmax label (`outCol`) — and optionally the
   * rounded best log-likelihood (`scoreCol`) — to `df`.
   *
   * Plan shape (the 100 TB contract): ONE zero-shuffle codegen'd
   * projection. The whole smoothed per-label log-likelihood factors as
   * `Σ_occurrences ln(cnt+1) − n_grams · ln(total_L + V)` (the unmatched
   * grams' mass folds into the per-label constant), so a document scores
   * every label in a single pass over its own gram stream against the
   * broadcast [[graft.functions.expressions.LangLmModel]] — no explode,
   * no (doc, label) aggregation, no join-back. The first implementation
   * paid three shuffles for the same numbers; classifying 100 TB now
   * costs exactly one scan. Ties break toward the LARGER label (the
   * langId / q109 struct-max convention); documents with no grams
   * (null text, or shorter than the store's n) classify `"und"`.
   */
  def classify(df: DataFrame, textCol: String, loaded: Loaded,
               outCol: String = "lang_pred",
               scoreCol: Option[String] = None): DataFrame = {
    val helper = "__lang_scores"
    if (df.columns.exists(_.equalsIgnoreCase(helper))) throw new ConfigException(
      s"lang_classify: input already carries the helper column $helper — " +
        "rename it before classifying")
    val scored = df.withColumn(helper,
      graft.functions.expressions.LangScores(col(textCol), loaded.model, loaded.n))
    val withPred = scored
      .withColumn(outCol, coalesce(col(helper).getField("label"), lit("und")))
    scoreCol.fold(withPred.drop(helper)) { sc =>
      withPred.withColumn(sc, round(col(helper).getField("score"), 4))
        .drop(helper)
    }
  }
}
