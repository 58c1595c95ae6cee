package graft.operators

import org.apache.spark.sql.DataFrame

import graft.api.{ConfigException, Opt, RunContext}
import graft.config.TransformConfig

/**
 * `ann_topk` — approximate-nearest-neighbor search as a declarative
 * pipeline step: for every row of a registered queries view, the top-k
 * nearest rows of the INPUT frame (the corpus) by cosine similarity.
 * The YAML surface over [[graft.ann.Ann]], mirroring how `dedup_minhash`
 * exposes the dedup engine — retrieval/eval pipelines get similarity
 * search without writing Scala. Output REPLACES the frame:
 * (query_id, vec_id, rank), rank 1 = nearest, ties broken by vec_id.
 *
 * {{{
 * - name: nearest-neighbors
 *   type: ann_topk
 *   options: {method: ivf, idColumn: vec_id, vecColumn: embedding,
 *             queriesView: eval_queries, k: "10", nProbe: "8",
 *             codebookView: v_codebook}
 * }}}
 *
 * Options: `idColumn`/`vecColumn`/`queriesView` required; `method:
 * brute (default) | lsh | ivf | pq | ivfpq`; `queryIdColumn` (default =
 * idColumn), `queryVecColumn` (default = vecColumn), `k` (10). LSH:
 * `bits` (12), `tables` (4). IVF: `nLists` (64), `nProbe` (8),
 * `kmeansIters` (0), or `codebookView` naming a persisted
 * [[graft.ann.Ann.codebookFrame]] store — the run then pays no codebook
 * sampling scan, and `nLists`/`kmeansIters` (when given) assert against
 * the store's parameter stamp, failing fast on a mismatch. PQ
 * ([[graft.ann.Ann.pqTopK]] — product-quantization ADC candidates +
 * exact cosine re-rank): `m` (8 subspaces), `nCentroids` (16 per
 * subspace), `kmeansIters` (3), `candidateFactor` (8). IVFPQ
 * ([[graft.ann.Ann.ivfPqTopK]] — residual product quantization, the
 * billion-scale composition: ADC scans only the probed nProbe/nLists of
 * the codes frame): the IVF knobs (`nLists` default 16, `nProbe` 4) plus
 * the PQ knobs, with `codebookView` naming a persisted COMBINED
 * [[graft.ann.Ann.ivfPqStoreFrame]] store.
 *
 * Scale shape (inherited from [[graft.ann.Ann]]): queries broadcast in
 * every method; brute is one corpus scan with a per-query bounded-heap
 * partial top-k (no corpus shuffle); LSH joins on (table, bucket); IVF
 * assignment is a fused zero-shuffle argmax projection and the search
 * touches nProbe/nLists of the corpus. The queries side is CAPPED at
 * `maxQueries` (default [[graft.ann.Ann.DefaultMaxQueries]], 4096) —
 * every method broadcasts/collects it, so exceeding the cap throws the
 * guided error instead of OOMing the driver; batch larger query sets.
 */
object AnnTopKTransform extends IdVecColumns {
  val transformType = "ann_topk"
  private val QueriesView = Opt.view("queriesView").required
  // columns of the queries view
  private val QueryIdColumn = Opt.string("queryIdColumn")
  private val QueryVecColumn = Opt.string("queryVecColumn")
  private val K = Opt.int("k", min = 1).default(10)
  private val Method = Opt.oneOf("method", "brute", "lsh", "ivf", "pq", "ivfpq").default("brute")
  // the ANN family's loud "queries are small" contract: every method
  // broadcasts/collects the queries frame, so its size is capped — see
  // graft.ann.Ann.DefaultMaxQueries and docs/SCALE.md
  private val MaxQueries = Opt.int("maxQueries").default(graft.ann.Ann.DefaultMaxQueries)
  private val Bits = Opt.int("bits").default(12)
  private val Tables = Opt.int("tables").default(4)
  // the quantizer knobs: training parameters, or with codebookView the
  // stamps the store must match; defaults differ by method
  private val M = Opt.int("m")
  private val NCentroids = Opt.int("nCentroids")
  private val KmeansIters = Opt.int("kmeansIters")
  private val NLists = Opt.int("nLists")
  private val NProbe = Opt.int("nProbe")
  private val CandidateFactor = Opt.int("candidateFactor").default(8)
  private val CodebookView = Opt.view("codebookView")
  private val CodesView = Opt.view("codesView")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val id = IdColumn(config)
    val vec = VecColumn(config)
    val queries = QueriesView.table(config, ctx.spark)
    val qid = QueryIdColumn.get(config).getOrElse(id)
    val qvec = QueryVecColumn.get(config).getOrElse(vec)
    if (!queries.columns.contains(qid) || !queries.columns.contains(qvec))
      throw new ConfigException(
        s"ann_topk: queries view '${QueriesView(config)}' is missing " +
          s"column(s) ${Seq(qid, qvec).filterNot(queries.columns.contains).mkString(", ")}")
    // the queries frame must present (queryIdColumn, vecColumn) to the
    // engine — rename an aliased query vector column up front
    val q = queries.select(
      org.apache.spark.sql.functions.col(qid).as(qid),
      org.apache.spark.sql.functions.col(qvec).as(vec))
    val k = K(config)
    val method = Method(config)
    val maxQueries = MaxQueries(config)
    // codebookView only parameterizes IVF and PQ — with brute/lsh the user
    // almost certainly meant one of those; reject rather than silently
    // ignore
    if (method != "ivf" && method != "pq" && method != "ivfpq" && CodebookView.isSet(config))
      throw new ConfigException(
        "ann_topk: codebookView only applies with method: ivf|pq|ivfpq — " +
          s"method '$method' never consults a codebook")
    if (method != "pq" && method != "ivfpq" && CodesView.isSet(config))
      throw new ConfigException(
        "ann_topk: codesView only applies with method: pq|ivfpq — " +
          s"method '$method' never reads a pre-encoded codes frame")
    def or(o: Opt[Int], dflt: Int): Int = o.get(config).getOrElse(dflt)
    method match {
      case "brute" => graft.ann.Ann.bruteForceTopK(input, q, id, vec, qid, k,
        maxQueries = maxQueries)
      case "lsh" => graft.ann.Ann.lshTopK(input, q, id, vec, qid, k,
        bits = Bits(config), tables = Tables(config), maxQueries = maxQueries)
      case "pq" =>
        // a persisted pqCodebookFrame store skips the sampling scan and
        // keeps yesterday's cells comparable; m/nCentroids/kmeansIters
        // (when given) assert against its parameter stamp
        val stored = CodebookView.tableIfSet(config, ctx.spark).map { store =>
          graft.ann.Ann.loadPqCodebooks(store,
            wantM = M.get(config), wantK = NCentroids.get(config),
            wantKmeansIters = KmeansIters.get(config), kName = "nCentroids")
        }
        // a persisted pqCodesFrame store (pq_encode output) additionally
        // skips the ENCODE scan; it is only meaningful against the exact
        // codebook it was encoded under, so codebookView is required
        // with it and the store's pq_cb_hash fingerprint is asserted
        val codes = CodesView.tableIfSet(config, ctx.spark).map { store =>
          if (stored.isEmpty) throw new ConfigException(
            "ann_topk: codesView requires codebookView — a codes store " +
              "is only meaningful against the exact codebook it was " +
              "encoded under (its pq_cb_hash stamp is checked)")
          store
        }
        graft.ann.Ann.pqTopK(input, q, id, vec, qid, k,
          m = or(M, 8), nCentroids = or(NCentroids, 16), kmeansIters = or(KmeansIters, 3),
          candidateFactor = CandidateFactor(config),
          codebooks = stored, codesStore = codes, maxQueries = maxQueries)
      case "ivf" => CodebookView.tableIfSet(config, ctx.spark) match {
        case Some(store) => graft.ann.Ann.ivfTopKWithCodebook(input, q, id, vec,
          qid, k, store,
          nProbe = or(NProbe, 8),
          wantNLists = NLists.get(config),
          wantKmeansIters = KmeansIters.get(config),
          maxQueries = maxQueries)
        case None => graft.ann.Ann.ivfTopK(input, q, id, vec, qid, k,
          nLists = or(NLists, 64), nProbe = or(NProbe, 8), kmeansIters = or(KmeansIters, 0),
          maxQueries = maxQueries)
      }
      case _ =>
        // a persisted COMBINED ivfPqStoreFrame skips the sampling scan;
        // every knob given alongside it asserts against the stamps
        val stored = CodebookView.tableIfSet(config, ctx.spark).map { store =>
          graft.ann.Ann.loadIvfPqStore(store,
            wantNLists = NLists.get(config), wantM = M.get(config),
            wantK = NCentroids.get(config), wantKmeansIters = KmeansIters.get(config))
        }
        // a persisted ivfPqCodesFrame additionally skips the encode scan;
        // only meaningful against the exact combined store (both-halves
        // ivfpq_cb_hash fingerprint asserted)
        val codes = CodesView.tableIfSet(config, ctx.spark).map { store =>
          if (stored.isEmpty) throw new ConfigException(
            "ann_topk: codesView requires codebookView — a codes store " +
              "is only meaningful against the exact quantizer it was " +
              "encoded under (its ivfpq_cb_hash stamp is checked)")
          store
        }
        graft.ann.Ann.ivfPqTopK(input, q, id, vec, qid, k,
          nLists = or(NLists, 16), nProbe = or(NProbe, 4), m = or(M, 8),
          nCentroids = or(NCentroids, 16), kmeansIters = or(KmeansIters, 3),
          candidateFactor = CandidateFactor(config),
          store = stored, codesStore = codes, maxQueries = maxQueries)
    }
  }
}
