package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

import graft.api.{ConfigException, RunContext}

/** The persisted-store contract (docs/STORES.md), enforced in one place.
  * Every store family is one [[Family]] definition; every loader asks
  * the same checker "is this table a valid store of this family for
  * these parameters?" — so the missing-column, stamp and caller-mismatch
  * rules, their exception type and their empty-store outcome cannot
  * drift between families. Family-specific checks (escape version,
  * byte-fallback alphabet, model-size guards, the codebook fingerprint's
  * derivation) stay in the loaders. */
private[graft] object Stores {
  def fromView(ctx: RunContext, view: String, option: String,
               tname: String, storeKind: String): DataFrame =
    try ctx.spark.table(view)
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new ConfigException(
        s"$tname: $option '$view' is not a registered view/table — " +
          s"register the persisted $storeKind store first (${e.getMessage})")
    }

  /** One parameter stamp: the store column, the knob the caller types,
    * the type both sides compare as, and — for stamps added after the
    * family's first stores were written — the value an absent column
    * stands for. `ifMissing` explains a required stamp's absence. */
  final case class Stamp(column: String, knob: String, sqlType: String = "int",
                         absent: Option[Any] = None, ifMissing: String = "")

  /** One store family: its kind (as messages name it), the transform that
    * rebuilds it, its layout and stamp columns, whether an empty store is
    * valid (its builder accepts an empty corpus), how its stamps were
    * made ("trained", "hashed", …) and the hint appended to stamp errors. */
  final case class Family(kind: String, transform: String, layout: Seq[String],
                          stamps: Seq[Stamp], mayBeEmpty: Boolean,
                          verb: String, hint: String) {
    /** The same family with one stamp's knob renamed for a caller that
      * spells it differently (`ann_topk` says nCentroids for PQ's k). */
    def withKnob(column: String, knob: String): Family =
      copy(stamps = stamps.map(s => if (s.column == column) s.copy(knob = knob) else s))

    /** The stamp columns cast to their compare types; an absent optional
      * stamp reads as its default. */
    def stampColumns(store: DataFrame): Seq[Column] = stamps.map { s =>
      val c = if (store.columns.contains(s.column)) col(s.column)
              else lit(s.absent.get)
      c.cast(s.sqlType).as(s.column)
    }
  }

  val MinhashSignatures = Family("minhash signature", "minhash_signatures",
    Seq("doc_id", "sh", "sig"),
    Seq(Stamp("mh_bands", "bands"), Stamp("mh_rows_per_band", "rowsPerBand"),
      Stamp("mh_shingle", "shingleSize")),
    mayBeEmpty = true, "built",
    "mismatched parameters hash to disjoint buckets and silently find zero duplicates")

  val LineSignatures = Family("line signature", "line_signatures", Seq("lh"),
    Seq(Stamp("ld_min_length", "minLength"),
      Stamp("ld_separator", "separator", "string")),
    mayBeEmpty = true, "built",
    "mismatched parameters would hash different lines and silently drop nothing")

  val GramSignatures = Family("gram signature", "gram_signatures", Seq("gh"),
    Seq(Stamp("sg_n", "n")), mayBeEmpty = true, "built",
    "a different gram length hashes different grams and silently finds zero spans")

  val Codebook = Family("codebook", "codebook", Seq("list_id", "vec"),
    Seq(Stamp("cb_n_lists", "nLists"), Stamp("cb_kmeans_iters", "kmeansIters"),
      Stamp("cb_rows", "rows")),
    mayBeEmpty = false, "trained",
    "assignments against a differently-trained codebook would silently mean " +
      "something else")

  val PqCodebook = Family("pq codebook", "pq_codebook",
    Seq("subspace", "list_id", "vec"),
    Seq(Stamp("pq_m", "m"), Stamp("pq_k", "k"),
      Stamp("pq_kmeans_iters", "kmeansIters"), Stamp("pq_sub_dim", "subDim"),
      Stamp("pq_rows", "rows"),
      Stamp("pq_norm", "norm", ifMissing = "a store persisted before the " +
        "spherical-PQ geometry stamp: its codebooks were trained in RAW space " +
        "and would silently re-cell every vector under the normalized encode path")),
    mayBeEmpty = false, "trained",
    "cells trained under other parameters or another geometry version " +
      "(norm 1 = spherical) would silently re-cell every vector")

  val PqCodes = Family("pq codes", "pq_encode", Seq("vec_id", "codes"),
    Seq(Stamp("pq_codes_m", "m"), Stamp("pq_codes_sub_dim", "subDim"),
      Stamp("pq_codes_norm", "norm"), Stamp("pq_cb_hash", "cb_hash", "long")),
    mayBeEmpty = true, "encoded",
    "the codes were encoded under a DIFFERENT codebook (retrained, or " +
      "different parameters); re-encode the corpus against this codebook store")

  val IvfPqStore = Family("ivfpq", "ivfpq_codebook",
    Seq("part", "subspace", "list_id", "vec"),
    Seq(Stamp("ivfpq_n_lists", "nLists"), Stamp("ivfpq_m", "m"),
      Stamp("ivfpq_k", "nCentroids"), Stamp("ivfpq_kmeans_iters", "kmeansIters"),
      Stamp("ivfpq_sub_dim", "subDim"), Stamp("ivfpq_rows", "rows"),
      Stamp("ivfpq_norm", "norm")),
    mayBeEmpty = false, "trained",
    "lists and residual cells trained under other parameters or another " +
      "geometry version (norm 1 = spherical) would silently mean something else")

  val IvfPqCodes = Family("ivfpq codes", "ivfpq_encode",
    Seq("vec_id", "list_id", "codes"),
    Seq(Stamp("ivfpq_codes_m", "m"), Stamp("ivfpq_codes_sub_dim", "subDim"),
      Stamp("ivfpq_codes_norm", "norm"), Stamp("ivfpq_cb_hash", "cb_hash", "long")),
    mayBeEmpty = true, "encoded",
    "the codes were encoded under a DIFFERENT quantizer (either half " +
      "retrained); re-encode the corpus against this combined store")

  val BpeMerges = Family("bpe merges", "bpe_train",
    Seq("kind", "merge_rank", "lhs", "rhs"),
    Seq(Stamp("bpe_num_merges", "numMerges"),
      Stamp("bpe_min_count", "minCount", "long"),
      Stamp("bpe_max_words", "maxWords"), Stamp("bpe_rows", "rows"),
      Stamp("bpe_alpha_rows", "alphaRows"),
      Stamp("bpe_byte_fallback", "byteFallback", "boolean", absent = Some(false)),
      Stamp("bpe_escape_version", "escapeVersion", absent = Some(0))),
    mayBeEmpty = false, "trained",
    "token counts against a differently-trained vocabulary would silently " +
      "mean something else")

  val ChargramLm = Family("chargram_lm", "chargram_lm",
    Seq("label", "gram", "cnt"),
    Seq(Stamp("clm_n", "n"), Stamp("clm_min_count", "minCount", "long")),
    mayBeEmpty = false, "trained",
    "a different gram width or pruning floor slices different grams and " +
      "scores garbage")

  val MediaSignatures = Family("media signature", "media_signatures",
    Seq("doc_id", "sig", "sig2"),
    Seq(Stamp("ms_version", "ms_version"), Stamp("modality", "modality", "string")),
    mayBeEmpty = true, "hashed",
    "pairing across hash versions or modalities compares incomparable bits " +
      "and silently reports garbage")

  /** Every family, in docs/STORES.md table order. */
  val families: Seq[Family] = Seq(MinhashSignatures, LineSignatures,
    GramSignatures, Codebook, BpeMerges, ChargramLm, PqCodebook, PqCodes,
    IvfPqStore, IvfPqCodes, MediaSignatures)

  private def fail(f: Family, msg: String): Nothing =
    throw new ConfigException(s"${f.kind} store $msg")

  private def show(v: Any): String =
    if (v == null) "null" else v.toString.replace("\n", "\\n").replace("\t", "\\t")

  /** Rule 1: every layout column and every stamp without a default. */
  def requireColumns(store: DataFrame, f: Family): Unit = {
    val stamps = f.stamps.filter(_.absent.isEmpty)
    val missing = (f.layout ++ stamps.map(_.column)).filterNot(store.columns.contains)
    if (missing.nonEmpty) {
      val lost = stamps.filter(s => missing.contains(s.column))
      fail(f, s"is missing column(s) ${missing.mkString(", ")}" +
        (if (lost.isEmpty) "" else s" — missing stamp column(s) " +
          s"${lost.map(_.column).mkString(", ")} leave the store unable to " +
          "prove which build wrote it" +
          lost.map(_.ifMissing).filter(_.nonEmpty).map(h => s" ($h)").mkString) +
        s"; expected the ${f.transform} layout " +
        s"(${(f.layout ++ f.stamps.map(_.column)).mkString(", ")}); rebuild " +
        s"the store with the ${f.transform} transform")
    }
  }

  /** Rules 2 and 4 over the distinct stamp tuples a store carries: zero
    * tuples is an empty store, valid only where the family allows it;
    * otherwise exactly one non-null tuple, equal to every `want` given
    * (None = whatever the store was built with). Returns that tuple. */
  private def verify(f: Family, tuples: Seq[IndexedSeq[Any]],
                     want: Seq[Option[Any]]): IndexedSeq[Any] = {
    if (tuples.isEmpty) {
      if (f.mayBeEmpty) return IndexedSeq.empty
      fail(f, s"is empty — the producing run saw no input; rebuild the store " +
        s"over a non-empty corpus with the ${f.transform} transform")
    }
    if (tuples.length > 1 || tuples.head.contains(null))
      fail(f, "carries mixed or null parameter stamps (" +
        tuples.take(3).map(t => f.stamps.indices
          .map(i => s"${f.stamps(i).knob}=${show(t(i))}").mkString(", "))
          .mkString("; ") + (if (tuples.length > 3) "; …" else "") +
        ") — an appended or hand-edited store cannot prove one build; " +
        s"rebuild it with a single ${f.transform} pass")
    val got = tuples.head
    val bad = f.stamps.indices.filter(i => want(i).exists(_ != got(i)))
    if (bad.nonEmpty) {
      def pairs(v: Int => Any) =
        bad.map(i => s"${f.stamps(i).knob}=${show(v(i))}").mkString(", ")
      fail(f, "parameter-stamp mismatch (" +
        bad.map(i => s"${f.stamps(i).knob} ${show(want(i).get)} vs store " +
          show(got(i))).mkString("; ") +
        s"): ${f.verb} with ${pairs(got)} but the caller requests " +
        s"${pairs(want(_).get)} — ${f.hint}; rebuild the store with the " +
        s"${f.transform} transform or align the parameters")
    }
    got
  }

  /** The checker for stores consumed as DataFrames (signatures, codes,
    * media): every stamp has a wanted value, so a valid store is one with
    * no row stamped otherwise — ONE bounded probe job, never a collect of
    * the store. Only a failing store pays a second (distinct) job, which
    * tells a mixed store from a mismatched one. An empty store passes
    * when the family allows it. */
  def check(store: DataFrame, f: Family, want: Any*): Unit = {
    requireColumns(store, f)
    val stamps = f.stampColumns(store)
    val same = stamps.zip(want).map { case (c, w) => c <=> lit(w) }.reduce(_ && _)
    if (store.select(stamps: _*).where(!same).limit(1).collect().nonEmpty)
      verify(f, store.select(stamps: _*).distinct().limit(4).collect()
        .map(_.toSeq.toIndexedSeq).toSeq, want.map(Some(_)))
  }

  /** One driver collect of a store read into memory anyway: the `layout`
    * columns at positions 0 until layout.length, the stamp columns after
    * them. `limit` bounds what can reach the driver. */
  def collect(store: DataFrame, f: Family, layout: Seq[Column],
              limit: Int = Int.MaxValue): Array[Row] = {
    requireColumns(store, f)
    val cols = store.select(layout ++ f.stampColumns(store): _*)
    (if (limit == Int.MaxValue) cols else cols.limit(limit)).collect()
  }

  /** The checker for rows already [[collect]]ed: stamps read from the
    * collected rows (no extra job), stamps starting at position `from`.
    * Returns the store's stamp tuple. */
  def stampsOf(f: Family, rows: Seq[Row], from: Int,
               want: Option[Any]*): IndexedSeq[Any] =
    verify(f, rows.iterator.map(r => (from until from + f.stamps.length)
      .map(r.get)).distinct.toSeq, want.padTo(f.stamps.length, None))

  /** Dense ids for driver-read stores: `ids` (null = a missing or
    * out-of-range id) must be exactly 0 until `produced`, the store's
    * produced-count stamp — a hole or duplicate would silently renumber
    * every later entry, a lost tail would pass a density check alone.
    * Returns the row positions in id order. */
  def denseOrder(what: String, ids: IndexedSeq[Any], produced: Int): Array[Int] = {
    val order = ids.indices.filter(ids(_) != null)
      .sortBy(ids(_).asInstanceOf[Int]).toArray
    val firstBad = (0 until math.max(produced, ids.length)).find(i =>
      i >= order.length || ids(order(i)) != i || i >= produced)
    firstBad.foreach { i => throw new ConfigException(
      s"$what are not the dense, non-null 0..${produced - 1} sequence the " +
        s"row-count stamp promises (${ids.length} rows loaded, first problem " +
        s"at position $i) — rows were lost or duplicated: a store that lost " +
        "or grew rows (partial overwrite, filtered view, append) would " +
        "silently renumber every later entry, and entries past lost rows " +
        "would silently vanish; rebuild the store") }
    order
  }

  /** Collected `array<float>` cells as vectors: no null vector, no null
    * element (it would unbox to a fabricated 0.0f), one dimensionality —
    * `dim` when the stamps fix it (-1: whatever the first vector has). */
  def vectors(what: String, cells: Seq[(String, Any)], dim: Int = -1): Array[Array[Float]] = {
    val vs = cells.map { case (name, c) =>
      val v = c.asInstanceOf[scala.collection.Seq[Any]]
      if (v == null || v.contains(null)) throw new ConfigException(
        s"$what $name is a null vector or contains a null vector element — " +
          "rebuild the store (a null slot must never silently read as 0.0)")
      v.asInstanceOf[scala.collection.Seq[Float]].toArray
    }.toArray
    val want = if (dim >= 0) dim else vs.headOption.map(_.length).getOrElse(0)
    val dims = vs.map(_.length).distinct
    if (dims.exists(_ != want)) throw new ConfigException(
      s"$what vectors carry ${if (dims.length > 1) "mixed " else ""}" +
        s"dimensionalities ${dims.sorted.mkString(", ")}" +
        (if (dim >= 0) s" where the stamps demand $dim" else "") +
        " — a truncated vector would be prefix-scored and silently skew every " +
        "assignment; rebuild the store")
    vs
  }
}
