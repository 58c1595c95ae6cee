package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, RunContext, Transform}
import graft.config.TransformConfig

/**
 * `cluster_embeddings` — corpus organization by spherical k-means:
 * appends each row's cluster id (and optionally its cosine similarity to
 * the assigned centroid, the "how central is this document" signal used
 * for diversity-aware pruning à la SemDeDup/D4). This exposes the
 * clustering half of [[graft.ann.Ann.semanticNearDups]] as its own
 * first-class step: topic bucketing, per-cluster sampling quotas, and
 * cluster-stratified eval splits all want the assignment WITHOUT the
 * pairwise dedup that follows.
 *
 * {{{
 * - name: topics
 *   type: cluster_embeddings
 *   options: {idColumn: vec_id, vecColumn: embedding, nClusters: "64",
 *             appendSim: centroid_sim}
 * }}}
 *
 * `idColumn`/`vecColumn` required; `nClusters` (64), `kmeansIters` (3),
 * `clusterColumn` (`cluster_id`), `appendSim` (column name — absent →
 * not appended). With `codebookView`, the codebook is LOADED from a
 * persisted [[graft.ann.Ann.codebookFrame]] store (the `codebook`
 * transform's output re-read from parquet) instead of trained — the run
 * pays no sampling scan and its cluster ids mean exactly what yesterday's
 * run wrote; nClusters/kmeansIters then act as assertions against the
 * store's parameter stamp (omit them to accept whatever the store was
 * built with) and a mismatch fails loud, never silently reclusters.
 *
 * Scale shape (inherited from [[graft.ann.Ann.kmeansCentroids]]): the
 * codebook is O(nClusters·dim) on the driver — hash-sampled deterministic
 * init, driver-local Lloyd rounds over one bounded hash-sample pass;
 * assignment is the fused zero-shuffle
 * ArgTopCentroids projection, and the optional similarity is the fused
 * NearestCentroidSim node carrying the same codebook as a reference
 * object (never as plan literals). No row of the corpus is ever shuffled.
 */
object ClusterEmbeddingsTransform extends Transform {
  val transformType = "cluster_embeddings"
  override val columnOptions = Seq("idColumn", "vecColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    import graft.functions.expressions.ArgTopCentroids
    required(config, "idColumn", "vecColumn")
    val idCol = config.options("idColumn")
    val vecCol = config.options("vecColumn")
    val nClusters = intOption(config, "nClusters", 64)
    if (nClusters < 1)
      throw new ConfigException(s"cluster_embeddings: nClusters must be >= 1, got $nClusters")
    val iters = intOption(config, "kmeansIters", 3)
    val clusterCol = config.options.getOrElse("clusterColumn", "cluster_id")

    val cents = config.options.get("codebookView") match {
      case Some(view) => graft.ann.Ann.loadCodebook(ctx.spark.table(view),
        intOption(config, "nClusters"),
        intOption(config, "kmeansIters"))
      case None => graft.ann.Ann.kmeansCentroids(
        input.select(col(idCol), col(vecCol)), idCol, vecCol, nClusters, iters)
    }
    val assigned = input.withColumn(clusterCol,
      ArgTopCentroids(col(vecCol), cents, 1).getItem(0))
    config.options.get("appendSim") match {
      case None => assigned
      case Some(simCol) if cents.isEmpty =>
        // empty input → empty codebook: array() of zero literals types as
        // array<null> and the cosine type check rejects it at analysis —
        // pass the (empty) frame through with a null sim column instead
        assigned.withColumn(simCol, lit(null).cast("double"))
      case Some(simCol) =>
        // one fused plan node with the codebook as a reference object —
        // a literal array-of-arrays lookup would put nClusters×dim
        // Literal nodes in the plan, the pathology ArgTopCentroids avoids
        assigned.withColumn(simCol,
          graft.functions.expressions.NearestCentroidSim(col(vecCol), cents))
    }
  }
}

/**
 * `codebook` — producer half of the persisted-codebook loop: trains the
 * spherical k-means codebook ([[graft.ann.Ann.kmeansCentroids]] — hash-
 * sampled deterministic init, driver-local Lloyd over one bounded sample
 * pass) and REPLACES the frame with the [[graft.ann.Ann.codebookFrame]]
 * store layout (list_id, vec, cb_n_lists, cb_kmeans_iters) for a file
 * sink to persist. Run it at the end of corpus build N; run N+1 loads the
 * parquet, registers it as a view, and passes it to `cluster_embeddings`
 * (or the IVF ANN API) via `codebookView` — cluster ids stay comparable
 * across runs and no run after the first pays the codebook sampling scan
 * (the IVF analogue of `minhash_signatures`/`gram_signatures`).
 *
 * {{{
 * - name: build-codebook
 *   type: codebook
 *   options: {idColumn: vec_id, vecColumn: embedding, nLists: "64"}
 * }}}
 *
 * `idColumn`/`vecColumn` required; `nLists` (64), `kmeansIters` (3).
 */
object CodebookTransform extends Transform {
  val transformType = "codebook"
  override val columnOptions = Seq("idColumn", "vecColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idColumn", "vecColumn")
    val nLists = intOption(config, "nLists", 64)
    if (nLists < 1)
      throw new ConfigException(s"codebook: nLists must be >= 1, got $nLists")
    graft.ann.Ann.codebookFrame(input,
      config.options("idColumn"), config.options("vecColumn"),
      nLists, intOption(config, "kmeansIters", 3))
  }
}

/** `pq_codebook` — train and persist PRODUCT-QUANTIZATION codebooks
  * ([[graft.ann.Ann.pqCodebookFrame]] — m per-subspace L2 Lloyd
  * codebooks off one bounded hash-ordered sample; `pq_*` parameter
  * stamps). Output REPLACES the frame: one row per (subspace, centroid).
  * Tomorrow's `ann_topk` `method: pq` runs consume it via `codebookView`
  * — no sampling scan, cells comparable across runs (the PQ analogue of
  * `codebook` for IVF). Options: `idColumn`/`vecColumn` required; `m`
  * (8), `nCentroids` (16; 256 = byte-code PQ), `kmeansIters` (3). */
object PqCodebookTransform extends Transform {
  val transformType = "pq_codebook"
  override val columnOptions = Seq("idColumn", "vecColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idColumn", "vecColumn")
    val m = intOption(config, "m", 8)
    val nCentroids = intOption(config, "nCentroids", 16)
    // guided ConfigException, not pqCodebooks' raw require: the YAML
    // author typed the knob, so the error must speak YAML (the sibling
    // CodebookTransform's nLists contract)
    if (m < 1)
      throw new ConfigException(s"pq_codebook: m must be >= 1, got $m")
    if (nCentroids < 1)
      throw new ConfigException(
        s"pq_codebook: nCentroids must be >= 1, got $nCentroids")
    graft.ann.Ann.pqCodebookFrame(input,
      config.options("idColumn"), config.options("vecColumn"),
      m = m, k = nCentroids,
      kmeansIters = intOption(config, "kmeansIters", 3))
  }
}

/** `pq_encode` — quantize a corpus against a PERSISTED PQ codebook store
  * ([[graft.ann.Ann.pqCodesFrame]]): one slim (vec_id, codes) row per
  * vector, stamped with the encode geometry and the codebook's float-
  * level fingerprint (`pq_cb_hash`). Output REPLACES the frame; persist
  * it with a file sink. Tomorrow's `ann_topk method: pq` runs pass it
  * back via `codesView` (alongside the same `codebookView`) and then
  * train NOTHING and encode NOTHING — the candidate phase's only
  * full-width corpus read disappears. Options: `idColumn`/`vecColumn`/
  * `codebookView` required. */
object PqEncodeTransform extends Transform {
  val transformType = "pq_encode"
  override val columnOptions = Seq("idColumn", "vecColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idColumn", "vecColumn", "codebookView")
    val cbs = graft.ann.Ann.loadPqCodebooks(
      ctx.spark.table(config.options("codebookView")), kName = "nCentroids")
    graft.ann.Ann.pqCodesFrame(input,
      config.options("idColumn"), config.options("vecColumn"), cbs)
  }
}

/** `ivfpq_encode` — quantize a corpus against a PERSISTED combined
  * IVFADC store ([[graft.ann.Ann.ivfPqCodesFrame]]): one slim
  * (vec_id, list_id, codes) row per vector, stamped with the encode
  * geometry and the quantizer's both-halves fingerprint
  * (`ivfpq_cb_hash`). Output REPLACES the frame. Tomorrow's `ann_topk
  * method: ivfpq` runs pass it back via `codesView` (alongside the same
  * `codebookView`) and train nothing, encode nothing. Options:
  * `idColumn`/`vecColumn`/`codebookView` required. */
object IvfPqEncodeTransform extends Transform {
  val transformType = "ivfpq_encode"
  override val columnOptions = Seq("idColumn", "vecColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idColumn", "vecColumn", "codebookView")
    val (cents, cbs) = graft.ann.Ann.loadIvfPqStore(
      ctx.spark.table(config.options("codebookView")))
    graft.ann.Ann.ivfPqCodesFrame(input,
      config.options("idColumn"), config.options("vecColumn"), cents, cbs)
  }
}

/** `ivfpq_codebook` — train and persist the COMBINED IVFADC store
  * ([[graft.ann.Ann.ivfPqStoreFrame]]: spherical coarse centroids +
  * RESIDUAL product-quantization codebooks off ONE bounded hash-ordered
  * sample; `ivfpq_*` parameter stamps). Output REPLACES the frame.
  * Tomorrow's `ann_topk method: ivfpq` runs consume it via
  * `codebookView` — no sampling scan, list assignments and code cells
  * comparable across runs. Options: `idColumn`/`vecColumn` required;
  * `nLists` (16), `m` (8), `nCentroids` (16), `kmeansIters` (3). */
object IvfPqCodebookTransform extends Transform {
  val transformType = "ivfpq_codebook"
  override val columnOptions = Seq("idColumn", "vecColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idColumn", "vecColumn")
    val nLists = intOption(config, "nLists", 16)
    val m = intOption(config, "m", 8)
    val nCentroids = intOption(config, "nCentroids", 16)
    for ((name, v) <- Seq("nLists" -> nLists, "m" -> m,
        "nCentroids" -> nCentroids) if v < 1)
      throw new ConfigException(
        s"$transformType: $name must be >= 1, got $v")
    graft.ann.Ann.ivfPqStoreFrame(input,
      config.options("idColumn"), config.options("vecColumn"),
      nLists = nLists, m = m, nCentroids = nCentroids,
      kmeansIters = intOption(config, "kmeansIters", 3))
  }
}
