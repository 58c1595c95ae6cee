package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{Opt, RunContext, Transform}
import graft.config.TransformConfig

/** The `idColumn`/`vecColumn` pair every embedding transform reads. */
private[operators] trait IdVecColumns extends Transform {
  protected val IdColumn = Opt.column("idColumn").required
  protected val VecColumn = Opt.column("vecColumn").required
}

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
object ClusterEmbeddingsTransform extends IdVecColumns {
  val transformType = "cluster_embeddings"
  // trained-mode knobs; with codebookView, stamps the store must match
  private val NClusters = Opt.int("nClusters", min = 1)
  private val KmeansIters = Opt.int("kmeansIters")
  private val CodebookView = Opt.view("codebookView")
  private val ClusterColumn = Opt.string("clusterColumn").default("cluster_id")
  private val AppendSim = Opt.string("appendSim")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    import graft.functions.expressions.ArgTopCentroids
    val idCol = IdColumn(config)
    val vecCol = VecColumn(config)
    val cents = CodebookView.tableIfSet(config, ctx.spark) match {
      case Some(store) => graft.ann.Ann.loadCodebook(store,
        NClusters.get(config), KmeansIters.get(config))
      case None => graft.ann.Ann.kmeansCentroids(
        input.select(col(idCol), col(vecCol)), idCol, vecCol,
        NClusters.get(config).getOrElse(64), KmeansIters.get(config).getOrElse(3))
    }
    val assigned = input.withColumn(ClusterColumn(config),
      ArgTopCentroids(col(vecCol), cents, 1).getItem(0))
    AppendSim.get(config) match {
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
object CodebookTransform extends IdVecColumns {
  val transformType = "codebook"
  private val NLists = Opt.int("nLists", min = 1).default(64)
  private val KmeansIters = Opt.int("kmeansIters").default(3)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    graft.ann.Ann.codebookFrame(input, IdColumn(config), VecColumn(config),
      NLists(config), KmeansIters(config))
}

/** `pq_codebook` — train and persist PRODUCT-QUANTIZATION codebooks
  * ([[graft.ann.Ann.pqCodebookFrame]] — m per-subspace L2 Lloyd
  * codebooks off one bounded hash-ordered sample; `pq_*` parameter
  * stamps). Output REPLACES the frame: one row per (subspace, centroid).
  * Tomorrow's `ann_topk` `method: pq` runs consume it via `codebookView`
  * — no sampling scan, cells comparable across runs (the PQ analogue of
  * `codebook` for IVF). Options: `idColumn`/`vecColumn` required; `m`
  * (8), `nCentroids` (16; 256 = byte-code PQ), `kmeansIters` (3). */
object PqCodebookTransform extends IdVecColumns {
  val transformType = "pq_codebook"
  // ranged here, not by pqCodebooks' raw require: the YAML author typed
  // the knob, so the error must speak YAML
  private val M = Opt.int("m", min = 1).default(8)
  private val NCentroids = Opt.int("nCentroids", min = 1).default(16)
  private val KmeansIters = Opt.int("kmeansIters").default(3)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    graft.ann.Ann.pqCodebookFrame(input, IdColumn(config), VecColumn(config),
      m = M(config), k = NCentroids(config), kmeansIters = KmeansIters(config))
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
object PqEncodeTransform extends IdVecColumns {
  val transformType = "pq_encode"
  private val CodebookView = Opt.view("codebookView").required

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val cbs = graft.ann.Ann.loadPqCodebooks(CodebookView.table(config, ctx.spark),
      kName = "nCentroids")
    graft.ann.Ann.pqCodesFrame(input, IdColumn(config), VecColumn(config), cbs)
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
object IvfPqEncodeTransform extends IdVecColumns {
  val transformType = "ivfpq_encode"
  private val CodebookView = Opt.view("codebookView").required

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val (cents, cbs) = graft.ann.Ann.loadIvfPqStore(CodebookView.table(config, ctx.spark))
    graft.ann.Ann.ivfPqCodesFrame(input, IdColumn(config), VecColumn(config), cents, cbs)
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
object IvfPqCodebookTransform extends IdVecColumns {
  val transformType = "ivfpq_codebook"
  private val NLists = Opt.int("nLists", min = 1).default(16)
  private val M = Opt.int("m", min = 1).default(8)
  private val NCentroids = Opt.int("nCentroids", min = 1).default(16)
  private val KmeansIters = Opt.int("kmeansIters").default(3)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    graft.ann.Ann.ivfPqStoreFrame(input, IdColumn(config), VecColumn(config),
      nLists = NLists(config), m = M(config), nCentroids = NCentroids(config),
      kmeansIters = KmeansIters(config))
}
