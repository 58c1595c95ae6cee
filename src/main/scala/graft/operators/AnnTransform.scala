package graft.operators

import org.apache.spark.sql.DataFrame

import graft.api.{ConfigException, RunContext, Transform}
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
object AnnTopKTransform extends Transform {
  val transformType = "ann_topk"
  override val columnOptions = Seq("idColumn", "vecColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idColumn", "vecColumn", "queriesView")
    val id = config.options("idColumn")
    val vec = config.options("vecColumn")
    val queries = ctx.spark.table(config.options("queriesView"))
    val qid = config.options.getOrElse("queryIdColumn", id)
    val qvec = config.options.getOrElse("queryVecColumn", vec)
    if (!queries.columns.contains(qid) || !queries.columns.contains(qvec))
      throw new ConfigException(
        s"ann_topk: queries view '${config.options("queriesView")}' is missing " +
          s"column(s) ${Seq(qid, qvec).filterNot(queries.columns.contains).mkString(", ")}")
    // the queries frame must present (queryIdColumn, vecColumn) to the
    // engine — rename an aliased query vector column up front
    val q = queries.select(
      org.apache.spark.sql.functions.col(qid).as(qid),
      org.apache.spark.sql.functions.col(qvec).as(vec))
    val k = intOption(config, "k", 10)
    if (k < 1) throw new ConfigException(s"ann_topk: k must be >= 1, got $k")
    val method = config.options.getOrElse("method", "brute")
    // the ANN family's loud "queries are small" contract: every method
    // broadcasts/collects the queries frame, so its size is capped — see
    // graft.ann.Ann.DefaultMaxQueries and docs/SCALE.md
    val maxQueries =
      intOption(config, "maxQueries", graft.ann.Ann.DefaultMaxQueries)
    // codebookView only parameterizes IVF and PQ — with brute/lsh the user
    // almost certainly meant one of those; reject rather than silently
    // ignore
    if (method != "ivf" && method != "pq" && method != "ivfpq" &&
        config.options.contains("codebookView"))
      throw new ConfigException(
        "ann_topk: codebookView only applies with method: ivf|pq|ivfpq — " +
          s"method '$method' never consults a codebook")
    if (method != "pq" && method != "ivfpq" &&
        config.options.contains("codesView"))
      throw new ConfigException(
        "ann_topk: codesView only applies with method: pq|ivfpq — " +
          s"method '$method' never reads a pre-encoded codes frame")
    method match {
      case "brute" => graft.ann.Ann.bruteForceTopK(input, q, id, vec, qid, k,
        maxQueries = maxQueries)
      case "lsh" => graft.ann.Ann.lshTopK(input, q, id, vec, qid, k,
        bits = intOption(config, "bits", 12), tables = intOption(config, "tables", 4),
        maxQueries = maxQueries)
      case "pq" =>
        // a persisted pqCodebookFrame store skips the sampling scan and
        // keeps yesterday's cells comparable; m/nCentroids/kmeansIters
        // (when given) assert against its parameter stamp
        val stored = config.options.get("codebookView").map { view =>
          graft.ann.Ann.loadPqCodebooks(ctx.spark.table(view),
            wantM = config.options.get("m").map(_ => intOption(config, "m", 0)),
            wantK = config.options.get("nCentroids")
              .map(_ => intOption(config, "nCentroids", 0)),
            wantKmeansIters = config.options.get("kmeansIters")
              .map(_ => intOption(config, "kmeansIters", 0)),
            kName = "nCentroids")
        }
        // a persisted pqCodesFrame store (pq_encode output) additionally
        // skips the ENCODE scan; it is only meaningful against the exact
        // codebook it was encoded under, so codebookView is required
        // with it and the store's pq_cb_hash fingerprint is asserted
        val codes = config.options.get("codesView").map { view =>
          if (stored.isEmpty) throw new ConfigException(
            "ann_topk: codesView requires codebookView — a codes store " +
              "is only meaningful against the exact codebook it was " +
              "encoded under (its pq_cb_hash stamp is checked)")
          ctx.spark.table(view)
        }
        graft.ann.Ann.pqTopK(input, q, id, vec, qid, k,
          m = intOption(config, "m", 8),
          nCentroids = intOption(config, "nCentroids", 16),
          kmeansIters = intOption(config, "kmeansIters", 3),
          candidateFactor = intOption(config, "candidateFactor", 8),
          codebooks = stored, codesStore = codes, maxQueries = maxQueries)
      case "ivf" => config.options.get("codebookView") match {
        case Some(view) => graft.ann.Ann.ivfTopKWithCodebook(input, q, id, vec,
          qid, k, ctx.spark.table(view),
          nProbe = intOption(config, "nProbe", 8),
          wantNLists = config.options.get("nLists").map(_ => intOption(config, "nLists", 0)),
          wantKmeansIters = config.options.get("kmeansIters").map(_ => intOption(config, "kmeansIters", 0)),
          maxQueries = maxQueries)
        case None => graft.ann.Ann.ivfTopK(input, q, id, vec, qid, k,
          nLists = intOption(config, "nLists", 64),
          nProbe = intOption(config, "nProbe", 8),
          kmeansIters = intOption(config, "kmeansIters", 0),
          maxQueries = maxQueries)
      }
      case "ivfpq" =>
        // a persisted COMBINED ivfPqStoreFrame skips the sampling scan;
        // every knob given alongside it asserts against the stamps
        val stored = config.options.get("codebookView").map { view =>
          graft.ann.Ann.loadIvfPqStore(ctx.spark.table(view),
            wantNLists = config.options.get("nLists")
              .map(_ => intOption(config, "nLists", 0)),
            wantM = config.options.get("m").map(_ => intOption(config, "m", 0)),
            wantK = config.options.get("nCentroids")
              .map(_ => intOption(config, "nCentroids", 0)),
            wantKmeansIters = config.options.get("kmeansIters")
              .map(_ => intOption(config, "kmeansIters", 0)))
        }
        // a persisted ivfPqCodesFrame additionally skips the encode scan;
        // only meaningful against the exact combined store (both-halves
        // ivfpq_cb_hash fingerprint asserted)
        val codes = config.options.get("codesView").map { view =>
          if (stored.isEmpty) throw new ConfigException(
            "ann_topk: codesView requires codebookView — a codes store " +
              "is only meaningful against the exact quantizer it was " +
              "encoded under (its ivfpq_cb_hash stamp is checked)")
          ctx.spark.table(view)
        }
        graft.ann.Ann.ivfPqTopK(input, q, id, vec, qid, k,
          nLists = intOption(config, "nLists", 16),
          nProbe = intOption(config, "nProbe", 4),
          m = intOption(config, "m", 8),
          nCentroids = intOption(config, "nCentroids", 16),
          kmeansIters = intOption(config, "kmeansIters", 3),
          candidateFactor = intOption(config, "candidateFactor", 8),
          store = stored, codesStore = codes, maxQueries = maxQueries)
      case other => throw new ConfigException(
        s"ann_topk: method must be brute|lsh|ivf|pq|ivfpq, got '$other'")
    }
  }

}
