package graft.ann

import org.apache.spark.sql.{DataFrame, Column, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.Stores

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (ArrayType(Float)).
 *
 * Two paths:
 *  - [[bruteForceTopK]]: exact cosine top-k. The query set is broadcast
 *    (it's small), the corpus streams once — O(corpus × queries) with no
 *    corpus shuffle at all: the per-query top-k is a partial (map-side)
 *    bounded-heap aggregation, so only ≤k candidates per (query,
 *    partition) cross the wire. The right baseline, and viable at 100 TB
 *    whenever |queries| is modest.
 *  - [[lshTopK]]: random-hyperplane LSH bucketing (deterministic
 *    hash-derived hyperplanes, no RNG/broadcast state). Candidates =
 *    bucket collisions across `tables` independent hash tables; exact
 *    cosine re-rank inside candidates. Trades recall for a corpus scan
 *    that touches only colliding buckets — the scale path when queries
 *    are many.
 */
object Ann {

  /** Default cap on the queries side of EVERY ANN method. The whole family
    * is built on a "queries are small" contract — brute/LSH/IVF broadcast
    * the queries frame to every task, and PQ/IVFADC collect it to the
    * driver and ship |queries|·m·k LUT doubles inside the task closure —
    * so an unbounded queries frame is a driver/executor OOM, not a slow
    * query. The contract is ENFORCED (the engine's loud-contract
    * discipline), never documentation-only: exceeding it throws the
    * guided error below naming this knob. Tune per driver size via the
    * `maxQueries` parameter (`maxQueries` option on `ann_topk`);
    * docs/SCALE.md documents the sizing math. */
  val DefaultMaxQueries = 4096

  /** The guided over-cap error every ANN method throws. */
  private def oversizedQueries(method: String, cap: Int): Nothing =
    throw new graft.api.ConfigException(
      s"$method: the queries frame exceeds maxQueries=$cap rows — ANN " +
        "queries broadcast to every task (PQ/IVFADC additionally collect " +
        "them driver-side and ship per-query m×k lookup tables in the " +
        "task closure), so an unbounded queries frame means a driver " +
        "OOM, not a slow query. Batch the queries (at most maxQueries " +
        "per call, union the results) or raise maxQueries deliberately " +
        "if the driver is sized for it.")

  /** Enforce the queries-side cap for the BROADCAST methods (brute/LSH/
    * IVF) and materialize the frame in the SAME bounded job: limit(cap+1)
    * guarantees no more than cap+1 rows can ever reach the driver no
    * matter the frame's true size, one extra row proves the violation,
    * and the surviving rows come back as a driver-local relation. The
    * broadcast build then starts from the local rows instead of
    * re-executing the queries subtree — round 17's separate
    * `limit(cap+1).count()` guard job (and the broadcast's second
    * execution of the subtree) collapse into this one action, which is
    * exactly the piggyback the PQ/IVFADC paths already had on their
    * driver collect. Row order of the local relation is irrelevant:
    * every consumer joins or buckets by value. Only the two columns the
    * search reads, (queryIdCol, vecCol), are collected: any other column
    * of the queries frame (payload text, metadata) never reaches the
    * driver. */
  private def boundedLocalQueries(queries: DataFrame, queryIdCol: String,
                                  vecCol: String, method: String,
                                  maxQueries: Int): DataFrame = {
    require(maxQueries >= 1,
      s"$method: maxQueries must be >= 1, got $maxQueries")
    val slim = queries.select(col(queryIdCol), col(vecCol))
    val rows = slim.limit(maxQueries + 1).collect()
    if (rows.length > maxQueries) oversizedQueries(method, maxQueries)
    queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), slim.schema)
  }

  /**
   * Two-phase per-query top-k over a scored frame (query_id, vec_id, sim):
   * partial per-partition top-k via [[TopKAggregator]] (map-side reduction
   * to ≤k candidates per query per partition), tiny final merge, then
   * posexplode to (query_id, vec_id, rank). Replaces the global
   * `row_number()` window, whose single sort-per-query of all scored rows
   * cannot survive a large corpus. Ranking order is (sim DESC, vec_id ASC),
   * identical to the window form — oracle-hash compatible.
   */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{LongType, IntegerType, ShortType, ByteType, StringType}
    // Null candidates (null embedding → null cosine; null id) would abort
    // the typed aggregators ("Null value appeared in non-nullable field");
    // the window form ranked them last, i.e. never in the top-k — dropping
    // them up front is semantics-preserving and path-uniform.
    // NaN sims (Inf/NaN vector components) must also drop: TopKAggregator's
    // sortWith comparator is intransitive for NaN (TimSort contract risk)
    val clean = scored.filter(col("sim").isNotNull && !isnan(col("sim")) &&
      col("vec_id").isNotNull)
    clean.schema("vec_id").dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val topk = udaf(new TopKAggregator(k), Encoders.product[ScoredCandidate])
        clean.groupBy("query_id")
          .agg(topk(col("sim").cast("double"), col("vec_id").cast("long")).as("tk"))
          .select(col("query_id"), posexplode(col("tk.items")).as(Seq("pos", "s")))
          .select(col("query_id"), col("s.id").as("vec_id"), (col("pos") + 1).as("rank"))
      case StringType =>
        // string doc ids get the same partial-aggregate bounded-heap shape
        // (was: single-task-per-query window fallback)
        val topk = udaf(new TopKAggregatorStr(k), Encoders.product[ScoredCandidateStr])
        clean.groupBy("query_id")
          .agg(topk(col("sim").cast("double"), col("vec_id")).as("tk"))
          .select(col("query_id"), posexplode(col("tk.items")).as(Seq("pos", "s")))
          .select(col("query_id"), col("s.id").as("vec_id"), (col("pos") + 1).as("rank"))
      case dt =>
        longSurrogate(dt) match {
          case Some((toSid, fromSid)) =>
            // orderable exotic ids (decimal p<=18, date, timestamp) densify
            // through an ORDER-PRESERVING, INVERTIBLE long surrogate, ride
            // the same bounded-heap partial aggregation, then map straight
            // back through the inverse — the tie-break (sim DESC, vec_id
            // ASC) is identical because the surrogate preserves the native
            // ordering. (The former (surrogate, id) dictionary join
            // re-executed the whole corpus×queries scoring subtree a
            // second time just to recover a mapping the inverse computes
            // per winner row.)
            val withSid = clean.withColumn("__sid", toSid(col("vec_id")))
            val topk = udaf(new TopKAggregator(k), Encoders.product[ScoredCandidate])
            withSid.groupBy("query_id")
              .agg(topk(col("sim").cast("double"), col("__sid")).as("tk"))
              .select(col("query_id"), posexplode(col("tk.items")).as(Seq("pos", "s")))
              .select(col("query_id"), fromSid(col("s.id")).as("vec_id"),
                (col("pos") + 1).as("rank"))
          case None =>
            // non-surrogatable id types (wide decimals, binary, ...): the
            // window form preserves the type. Correct at any scale but
            // funnels all scored rows of a query into one task — cast ids
            // to long or string upstream to get the partial-aggregate path.
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
            clean.withColumn("rank", row_number().over(w))
              .filter(col("rank") <= k)
              .select("query_id", "vec_id", "rank")
        }
    }
  }

  /** Order-preserving injective Column mapping from an exotic orderable id
    * type to LONG plus its exact inverse, where one exists: decimal
    * (p<=18) ↔ unscaled value, date ↔ epoch days, timestamp ↔ epoch
    * micros. The inverse lets the top-k winners map back per row instead
    * of joining a (surrogate, id) dictionary derived from the scored frame
    * (which re-executed the corpus×queries subtree a second time). */
  private def longSurrogate(dt: org.apache.spark.sql.types.DataType)
      : Option[(Column => Column, Column => Column)] = {
    import org.apache.spark.sql.types.{DecimalType, DateType, TimestampType}
    dt match {
      case d: DecimalType if d.precision <= 18 =>
        val scaleUp = lit(BigDecimal(10).pow(d.scale))
        Some((c => (c * scaleUp).cast("long"),
          // unscaled long → decimal(38, s) has plenty of headroom for
          // p<=18; the final cast restores the exact declared type
          c => (c.cast(DecimalType(38, 0)) / scaleUp).cast(d)))
      case DateType =>
        Some((c => unix_date(c),
          c => call_function("date_from_unix_date", c.cast("int"))))
      case TimestampType =>
        Some((c => unix_micros(c), c => timestamp_micros(c)))
      case _ => None
    }
  }

  /** Exact cosine top-k: queries df (queryIdCol, vecCol) × corpus df
    * (idCol, vecCol) → (query_id, vec_id, rank). Broadcast nested-loop over
    * the corpus scan (zero shuffle), then the two-phase top-k. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, queryIdCol: String,
                     k: Int,
                     maxQueries: Int = DefaultMaxQueries): DataFrame = {
    val qLocal = boundedLocalQueries(queries, queryIdCol, vecCol, "bruteForceTopK",
      maxQueries)
    val q = broadcast(qLocal.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("qvec")))
    val scored = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cvec"))
      .crossJoin(q)
      .withColumn("sim", cosine(col("cvec"), col("qvec")))
    topKPerQuery(scored, k)
  }

  /**
   * (id, vec, table_id, bucket) — one row per (input row, hash table).
   * Bucket ids come from the native fused [[graft.functions.expressions
   * .HyperplaneBuckets]] scan: ONE plan node regardless of tables×bits×dim
   * (the replaced form inlined tables×bits literal-plane [[graft.functions
   * .expressions.DotProduct]]s — ~9,200 plan literals at q30's parameters,
   * which blew past codegen's 64 KB method limit into interpreted eval and
   * cost 50.8 s on 4,020 rows). posexplode supplies table_id = position.
   * Null-vector rows drop out here (null bucket array) instead of colliding
   * in bucket 0 of every table.
   */
  private def withBuckets(df: DataFrame, id: String, vecCol: String,
                          tables: Int, bits: Int): DataFrame =
    df.select(col(id), col(vecCol),
      posexplode(graft.functions.expressions.HyperplaneBuckets(col(vecCol), tables, bits))
        .as(Seq("table_id", "bucket")))

  /** LSH-bucketed ANN top-k: same output shape as bruteForceTopK, lower
    * recall, corpus joined on (table, bucket) instead of crossed. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, queryIdCol: String,
              k: Int, bits: Int = 12, tables: Int = 4,
              maxQueries: Int = DefaultMaxQueries): DataFrame = {
    val qLocal = boundedLocalQueries(queries, queryIdCol, vecCol, "lshTopK",
      maxQueries)
    val c = withBuckets(corpus.select(col(idCol), col(vecCol)), idCol, vecCol, tables, bits)
      .select(col(idCol).as("vec_id"), col(vecCol).as("cvec"), col("table_id"), col("bucket"))
    val q = withBuckets(qLocal.select(col(queryIdCol), col(vecCol)), queryIdCol, vecCol, tables, bits)
      .select(col(queryIdCol).as("query_id"), col(vecCol).as("qvec"), col("table_id"), col("bucket"))
    val cands = c.join(broadcast(q), Seq("table_id", "bucket"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("sim", cosine(col("cvec"), col("qvec")))
    topKPerQuery(cands, k)
  }

  /**
   * IVF (inverted-file) ANN top-k — the other classic scale path.
   * Coarse quantizer: `nLists` corpus vectors chosen by deterministic hash
   * order stand in for centroids (hash-reservoir sampling — no k-means
   * iterations, no RNG state; at 100 TB you'd warm-start real centroids the
   * same way). The codebook is materialized to the driver — O(nLists·dim),
   * definitionally small for IVF — and carried by the fused
   * [[graft.functions.expressions.ArgTopCentroids]] node as a reference
   * object, so centroid assignment is a pure single-node projection over
   * the corpus scan: ZERO shuffle, zero extra rows, and zero plan literals
   * (the former crossJoin+window assignment materialized and shuffled
   * corpus × nLists rows just to take an argmax; the literal-folded
   * greatest-of-structs form after it bloated the plan with nLists×dim
   * literals per side).
   * Queries probe their `nProbe` nearest lists, so the search touches
   * nProbe/nLists of the corpus instead of all of it. Same output shape as
   * [[bruteForceTopK]].
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, queryIdCol: String,
              k: Int, nLists: Int = 64, nProbe: Int = 8,
              kmeansIters: Int = 0,
              refineSampleSize: Int = DefaultRefineSample,
              maxQueries: Int = DefaultMaxQueries): DataFrame = {
    val qLocal = boundedLocalQueries(queries, queryIdCol, vecCol, "ivfTopK",
      maxQueries)
    val centroids = kmeansCentroids(corpus, idCol, vecCol, nLists, kmeansIters,
      refineSampleSize)
    // degenerate corpora (0 or 1 vectors): no codebook to probe — brute
    // force IS the IVF plan with one list, and it handles empty inputs
    // (its re-check over the already-local queries is job-free)
    if (centroids.length <= 1)
      return bruteForceTopK(corpus, qLocal, idCol, vecCol, queryIdCol, k,
        maxQueries = maxQueries)
    ivfWithCentroids(corpus, qLocal, idCol, vecCol, queryIdCol, k,
      centroids, nProbe)
  }

  /** The IVF search given a ready codebook (sampled, refined, or loaded
    * from a persisted store): zero-shuffle fused assignment on both sides,
    * broadcast probe join, two-phase top-k. */
  private def ivfWithCentroids(corpus: DataFrame, queries: DataFrame,
                               idCol: String, vecCol: String, queryIdCol: String,
                               k: Int, centroids: Array[Array[Float]],
                               nProbe: Int): DataFrame = {
    // one fused plan node per side — the codebook rides as a reference
    // object, not as nLists×dim plan literals (see ArgTopCentroids)
    import graft.functions.expressions.ArgTopCentroids
    val assigned = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cvec"),
      ArgTopCentroids(col(vecCol), centroids, 1).getItem(0).as("list_id"))
    val probes = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qvec"),
      explode(ArgTopCentroids(col(vecCol), centroids, nProbe)).as("list_id"))

    val cands = assigned.join(broadcast(probes), Seq("list_id"))
      .withColumn("sim", cosine(col("cvec"), col("qvec")))
    topKPerQuery(cands, k)
  }

  /**
   * Exact cross-corpus cosine scores against a SMALL reference set: one
   * row per (corpus row, reference row) with the cosine similarity — the
   * primitive behind embedding-based benchmark decontamination ("drop
   * every training document too close to an eval example").
   *
   * Scale shape: the reference side broadcasts (eval sets are small by
   * definition — this is deliberately NOT the LSH path), so the corpus is
   * never shuffled: one scan, a broadcast nested-loop join, and the fused
   * native cosine per pair. Cost is corpus_rows × ref_rows similarity
   * evaluations — exact, deterministic, and embarrassingly parallel. For
   * big–big near-dup matching use [[cosineNearDups]] over the union
   * instead.
   */
  def crossMatches(corpus: DataFrame, refs: DataFrame,
                   corpusIdCol: String, refIdCol: String,
                   corpusVecCol: String, refVecCol: String): DataFrame = {
    // a shared id name (the transform's default) would be ambiguous after
    // the join — the reference id surfaces as ref_<name> in that case
    val refOut = if (refIdCol == corpusIdCol) s"ref_$refIdCol" else refIdCol
    corpus.select(col(corpusIdCol), col(corpusVecCol).as("__cvec"))
      .crossJoin(broadcast(refs.select(col(refIdCol).as(refOut),
        col(refVecCol).as("__rvec"))))
      .select(col(corpusIdCol), col(refOut),
        cosine(col("__cvec"), col("__rvec")).as("sim"))
  }

  /** Deterministic hash-ordered codebook sample (no RNG state, stable
    * across runs/retries); O(nLists·dim) driver materialization. */
  private def sampledCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                              nLists: Int): Array[Array[Float]] =
    // null embeddings, embeddings with null elements AND embeddings with
    // NaN/Inf components are excluded — the same finite-vector contract
    // the encode/query paths enforce. getSeq[Float] would silently unbox
    // a null slot to 0.0f, and a NaN component taken into init becomes a
    // DEAD centroid: NaN never wins an assignment comparison, so the cell
    // stays empty through every Lloyd round (empty cells keep the previous
    // centroid) and the poisoned vector persists into the (possibly
    // stored) codebook, silently shrinking the effective centroid count
    corpus.select(col(idCol), col(vecCol))
      .where(finiteVec(col(vecCol)))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(nLists)
      .select(col(vecCol).cast("array<float>")).collect()
      .map(_.getSeq[Float](0).toArray)

  /** A non-null vector whose every element is non-null and finite. NaN
    * needs no isnan(): Spark orders NaN GREATER than every value including
    * +Inf, so `x < +Inf` excludes NaN and +Inf in one comparison and
    * `x > -Inf` the other end — two branches per element on a full-corpus
    * scan instead of four. */
  private def finiteVec(c: Column): Column = c.isNotNull &&
    forall(c, x => x.isNotNull &&
      x > lit(Float.NegativeInfinity) && x < lit(Float.PositiveInfinity))

  /** PQ geometry version stamped into [[pqCodebookFrame]] stores as
    * `pq_norm`: 1 = spherical (train + encode on L2-normalized vectors).
    * Bump on any change to the normalization arithmetic — a store from a
    * different geometry must fail the load, never silently re-cell. */
  val PqNormSpherical: Int = 1

  /** Default Lloyd-refinement sample size: bounds driver memory at
    * sample·dim floats (16384 × 1024-dim ≈ 67 MB worst case, 4 MB at the
    * typical 64-dim) while staying a superset of any test-scale corpus. */
  val DefaultRefineSample: Int = 16384

  /**
   * Persistable IVF/k-means CODEBOOK store: one row per centroid —
   * (list_id, vec) plus the parameters it was trained with
   * (`cb_n_lists`/`cb_kmeans_iters`, RLE'd to ~nothing in parquet). Write
   * it after corpus build N; run N+1 re-loads the parquet and passes it to
   * `cluster_embeddings`/[[ivfTopKWithCodebook]] via a view — closing the
   * last recompute-per-run gap in the incremental story (without a store,
   * every run re-derives the codebook with a TakeOrdered corpus-sample
   * scan, and two runs' cluster ids aren't even comparable). The store is
   * O(nLists·dim) — trivially small — and the same loud stamp-mismatch
   * contract as [[graft.dedup.Dedup.minhashSignatures]] applies on read.
   */
  def codebookFrame(corpus: DataFrame, idCol: String, vecCol: String,
                    nLists: Int = 64, kmeansIters: Int = 3,
                    refineSampleSize: Int = DefaultRefineSample): DataFrame = {
    val cents = kmeansCentroids(corpus.select(col(idCol), col(vecCol)),
      idCol, vecCol, nLists, kmeansIters, refineSampleSize)
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toDF("list_id", "vec")
      .select(col("list_id"), col("vec").cast("array<float>"),
        lit(nLists).as("cb_n_lists"), lit(kmeansIters).as("cb_kmeans_iters"),
        // the PRODUCED centroid count (can be < nLists on a small corpus):
        // loadCodebook checks it against the loaded row count, so a store
        // that silently lost tail rows (partial overwrite, a LIMITed view)
        // cannot pass the dense-sequence check with a shrunken codebook
        lit(cents.length).as("cb_rows"))
  }

  /**
   * Load + validate a persisted [[codebookFrame]] store into the driver
   * codebook array (O(nLists·dim), the same bounded driver read class as
   * [[sampledCodebook]]). Fails fast on a missing/extra/duplicate list_id
   * (a hole would silently renumber every later centroid — cluster ids
   * that no longer mean what yesterday's run wrote) and on a parameter
   * stamp that disagrees with what the caller requests — `want*` empty
   * means "whatever the store was built with".
   */
  def loadCodebook(store: DataFrame, wantNLists: Option[Int] = None,
                   wantKmeansIters: Option[Int] = None): Array[Array[Float]] = {
    // ONE driver collect: the stamps are read from the collected rows.
    // cb_rows is required (not optional): it is the only defense against a
    // lost tail, which the dense-sequence check cannot see — a store
    // persisted before the stamp must be rebuilt once
    val f = Stores.Codebook
    val rows = Stores.collect(store, f,
      Seq(col("list_id").cast("int"), col("vec").cast("array<float>")))
    val produced = Stores.stampsOf(f, rows, 2, wantNLists, wantKmeansIters)(2)
    val order = Stores.denseOrder("codebook store list_ids",
      rows.map(_.get(0)).toIndexedSeq, produced.asInstanceOf[Int])
    Stores.vectors("codebook store centroid",
      order.toSeq.zipWithIndex.map { case (r, id) => (s"list_id=$id", rows(r).get(1)) })
  }

  /** [[ivfTopK]] with the coarse quantizer read from a PERSISTED
    * [[codebookFrame]] store instead of re-sampled from the corpus —
    * the increment never pays the TakeOrdered sampling scan, and cluster
    * geometry is stable across runs. Same output shape and degenerate-
    * codebook fallback as [[ivfTopK]]. */
  def ivfTopKWithCodebook(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, queryIdCol: String,
                          k: Int, store: DataFrame, nProbe: Int = 8,
                          wantNLists: Option[Int] = None,
                          wantKmeansIters: Option[Int] = None,
                          maxQueries: Int = DefaultMaxQueries): DataFrame = {
    val qLocal = boundedLocalQueries(queries, queryIdCol, vecCol, "ivfTopKWithCodebook",
      maxQueries)
    val centroids = loadCodebook(store, wantNLists, wantKmeansIters)
    if (centroids.length <= 1)
      bruteForceTopK(corpus, qLocal, idCol, vecCol, queryIdCol, k,
        maxQueries = maxQueries)
    else ivfWithCentroids(corpus, qLocal, idCol, vecCol, queryIdCol,
      k, centroids, nProbe)
  }

  /** L2-normalize onto the unit sphere. An all-zero vector is returned
    * unchanged: it has no direction to project (cosine against anything
    * is 0, so the exact re-rank ranks it last anyway), and emitting NaNs
    * from a 0/0 here would trip the NaN guards downstream. */
  private def unitVec(v: Array[Float]): Array[Float] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
    if (n == 0.0) v
    else {
      val inv = 1.0 / math.sqrt(n)
      val out = new Array[Float](v.length)
      i = 0
      while (i < v.length) { out(i) = (v(i) * inv).toFloat; i += 1 }
      out
    }
  }

  /**
   * SPHERICAL product-quantization codebooks: every training vector is
   * L2-normalized onto the unit sphere FIRST, then the vector space
   * splits into `m` contiguous subspaces of dim/m components and each
   * subspace trains its own `k`-centroid L2 codebook (plain Lloyd —
   * EUCLIDEAN assignment and unnormalized means over the normalized
   * subvectors). Jégou, Douze, Schmid, "Product Quantization for Nearest
   * Neighbor Search", TPAMI 2011 — the billion-scale ANN representation:
   * a 64-dim float vector becomes m byte-sized codes (32× smaller at
   * m=8, k=16), and distances against a query need only m table lookups.
   *
   * Spherical, because the engine's ANN contract is COSINE: on unit
   * vectors ‖q−x‖² = 2 − 2·cos(q,x), so the L2-ADC candidate ranking is
   * exactly the cosine ranking — without the normalization, a
   * high-cosine neighbor with a different norm (a scaled copy of the
   * query) sits at a large raw L2 distance and never enters the
   * candidate set, silently biasing PQ recall vs the brute/lsh/ivf
   * methods, which are all angle-based.
   *
   * Scale shape: ONE bounded deterministic hash-ordered sample collection
   * (the [[kmeansCentroids]] contract — O(sample·dim) driver memory),
   * then every subspace refines LOCALLY over its slice of that sample —
   * the corpus is never rescanned per subspace. Deterministic end to end:
   * hash-ordered sample, left-to-right sums, lower-index tie-break.
   * Requires dim divisible by m (fail fast — a ragged split would
   * silently quantize a torn subspace). */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int = 8, k: Int = 16, kmeansIters: Int = 3,
                  refineSampleSize: Int = DefaultRefineSample)
      : Array[Array[Array[Float]]] = {
    require(m >= 1, s"pqCodebooks: m must be >= 1, got $m")
    require(k >= 1, s"pqCodebooks: k must be >= 1, got $k")
    val sampleN = if (kmeansIters > 0) math.max(k, refineSampleSize) else k
    val sample = sampledCodebook(corpus, idCol, vecCol, sampleN)
    require(sample.nonEmpty, "pqCodebooks: corpus has no valid vectors")
    val dim = sample(0).length
    // normalize the WHOLE vector once, then slice: subspace codebooks must
    // all quantize the same point on the sphere, not per-subspace rescales
    val unit = sample.collect { case v if v.length == dim => unitVec(v) }
    pqCodebooksFromSample(unit, m, k, kmeansIters, "pqCodebooks")
  }

  /** Per-subspace L2 Lloyd codebooks over an ALREADY-PREPARED training
    * sample (unit vectors for flat spherical PQ, raw residuals for
    * IVFADC — the caller owns the geometry).
    *
    * Subspaces train CONCURRENTLY on a bounded driver pool: each
    * subspace's Lloyd rounds read only its own slice and write only its
    * own codebook, so the result is bit-identical to the sequential
    * loop in any schedule — and the training burst (sample·k·subDim·m
    * double ops per round; ~1B at the byte-code q169 settings, the
    * dominant cost of an inline-trained PQ query) drops from one core
    * to min(m, cores). */
  private def pqCodebooksFromSample(sample: Array[Array[Float]],
                                    m: Int, k: Int, kmeansIters: Int,
                                    caller: String)
      : Array[Array[Array[Float]]] = {
    require(sample.nonEmpty, s"$caller: no training vectors")
    val dim = sample(0).length
    require(dim % m == 0,
      s"$caller: vector dim $dim is not divisible by m=$m subspaces")
    val sd = dim / m
    def trainOne(j: Int): Array[Array[Float]] = {
      val sub = sample.collect { case v if v.length == dim =>
        java.util.Arrays.copyOfRange(v, j * sd, (j + 1) * sd) }
      val init = sub.take(k)
      if (init.length <= 1 || kmeansIters <= 0) init
      else refineCentroidsL2(sub, init, kmeansIters)
    }
    if (m == 1) Array(trainOne(0))
    else {
      val out = new Array[Array[Array[Float]]](m)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(m, Runtime.getRuntime.availableProcessors()))
      try {
        val futures = (0 until m).map { j =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = out(j) = trainOne(j)
          })
        }
        futures.foreach(_.get()) // rethrows a subspace's failure here
      } finally pool.shutdownNow()
      out
    }
  }

  /** Driver-local EUCLIDEAN Lloyd rounds (the PQ counterpart of the
    * spherical [[refineCentroids]]): min-L2 assignment with lower-index
    * tie-break, plain (unnormalized) means, empty cells keep their
    * previous centroid, dim-mismatched sample vectors excluded. */
  private def refineCentroidsL2(sample: Array[Array[Float]],
                                init: Array[Array[Float]],
                                iters: Int): Array[Array[Float]] = {
    var cents = init
    for (_ <- 1 to iters) {
      val dim = cents(0).length
      val acc = Array.fill(cents.length)(new Array[Double](dim))
      val cnt = new Array[Long](cents.length)
      sample.foreach { v => if (v.length == dim) {
        var best = -1
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < cents.length) {
          val cv = cents(c)
          var d = 0.0; var i = 0
          while (i < dim) {
            val t = v(i).toDouble - cv(i); d += t * t; i += 1
          }
          if (!d.isNaN && d < bestD) { best = c; bestD = d }
          c += 1
        }
        if (best >= 0) {
          var i = 0
          while (i < dim) { acc(best)(i) += v(i); i += 1 }
          cnt(best) += 1
        }
      } }
      cents = cents.indices.map { c =>
        if (cnt(c) == 0L) cents(c)
        else acc(c).map(x => (x / cnt(c)).toFloat)
      }.toArray
    }
    cents
  }

  /**
   * Product-quantization top-k with asymmetric-distance (ADC) candidate
   * generation and EXACT cosine re-rank — the billion-scale retrieval
   * shape ([[pqCodebooks]]'s citation):
   *
   *  1. the corpus encodes ONCE into a slim (vec_id, m codes) frame
   *     through the NATIVE [[graft.functions.expressions.PqEncode]] node
   *     (whole-stage codegen; codebooks ride as a reference object) —
   *     the only thing the candidate scan ever reads (a 64-dim corpus
   *     shrinks 32× at the m=8/k=16 defaults; persist the codes frame at
   *     production scale the way minhash signatures persist),
   *  2. each query's m×k lookup table of partial squared distances is
   *     built ONCE at the driver (queries are small by the contract that
   *     broadcasts them in every method) and ships inside the
   *     [[graft.functions.expressions.PqAdcNeg]] node — the per-pair
   *     cost is m table lookups, never a dim-length loop,
   *  3. per-query top-(k·candidateFactor) candidates by lowest ADC
   *     distance ride the same bounded-heap partial aggregation as every
   *     other ANN method (no corpus shuffle, no global sort),
   *  4. candidates re-rank by exact cosine against their true vectors
   *     (the candidate frame is queries×k·candidateFactor — the corpus
   *     joins it by id, broadcast-small).
   *
   * Candidates and re-rank agree on GEOMETRY: corpus and query vectors
   * are L2-normalized before encode / LUT construction (spherical PQ —
   * see [[pqCodebooks]]), so the L2-ADC candidate ordering approximates
   * the cosine ordering the exact re-rank finishes with; any POSITIVE
   * scale of a query (or of a corpus vector) encodes to the same code
   * word as the unscaled original. A unit vector's own code word
   * minimizes every ADC term (its codes ARE the per-subspace argmins),
   * so planted twins — identical OR positively scaled — attain the
   * GLOBAL-MINIMUM ADC distance; their candidate recall is bounded only
   * by quantization-cell ties (corpus vectors sharing the query's full
   * code word tie at that minimum, and the (sim, id) tie-break admits the
   * lowest ids first). A coarse codebook over clustered data can put a
   * whole cluster in one cell, so size the knobs to the data:
   * `candidateFactor` (default 8) buys tie headroom linearly,
   * `nCentroids` (default 16; 256 = the standard byte-code PQ) shrinks
   * cells exponentially. Degenerate codebooks (single centroid —
   * sub-2-row corpora) fall back to [[bruteForceTopK]], like IVF. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, queryIdCol: String, k: Int,
             m: Int = 8, nCentroids: Int = 16, kmeansIters: Int = 3,
             candidateFactor: Int = 8,
             refineSampleSize: Int = DefaultRefineSample,
             codebooks: Option[Array[Array[Array[Float]]]] = None,
             codesStore: Option[DataFrame] = None,
             maxQueries: Int = DefaultMaxQueries): DataFrame = {
    require(k >= 1, s"pqTopK: k must be >= 1, got $k")
    require(maxQueries >= 1,
      s"pqTopK: maxQueries must be >= 1, got $maxQueries")
    require(candidateFactor >= 1,
      s"pqTopK: candidateFactor must be >= 1, got $candidateFactor")
    require(codesStore.isEmpty || codebooks.nonEmpty,
      "pqTopK: a codes store is only meaningful against the codebook it " +
        "was encoded under — pass the loaded codebooks alongside it")
    val cbs = codebooks.getOrElse(pqCodebooks(corpus, idCol, vecCol,
      m, nCentroids, kmeansIters, refineSampleSize))
    if (cbs.exists(_.length <= 1))
      return bruteForceTopK(corpus, queries, idCol, vecCol, queryIdCol, k,
        maxQueries = maxQueries)
    val mm = cbs.length
    val sd = cbs(0)(0).length
    val dim = mm * sd
    val spark = corpus.sparkSession
    import org.apache.spark.sql.types._
    val qidType = queries.schema(queryIdCol).dataType
    // NaN/Inf components drop like null components: the encode would
    // otherwise default a poisoned subspace to code 0 (NaN never wins a
    // comparison), hand the row a finite ADC score that burns candidate
    // slots, and only vanish at the re-rank — topKPerQuery's NaN contract,
    // enforced where the candidates are made (finiteVec).
    // 1) slim code frame: a persisted codes store (validated against THIS
    // codebook's fingerprint) skips the encode scan entirely — at
    // production scale the encode is the only full-width corpus read the
    // candidate phase has. Otherwise encode through the NATIVE PqEncode
    // node (codegen'd; the old mapPartitions paid an Encoders.row
    // round-trip per corpus row — the engine's last hot loop outside
    // codegen). Dim mismatch is STORE DRIFT and throws inside the node
    // with guidance, never an empty result (the embedding space changed
    // since the store was trained).
    val codes = codesStore match {
      case Some(store) => loadPqCodes(store, cbs)
      case None => corpus
        .select(col(idCol).as("vec_id"), col(vecCol).cast("array<float>").as("v"))
        .where(col("vec_id").isNotNull && finiteVec(col("v")))
        .select(col("vec_id"),
          graft.functions.expressions.PqEncode(col("v"), cbs).as("codes"))
    }
    // queries ride the driver (small by the same contract that broadcasts
    // them in every other method); null/non-finite query vectors drop
    // like null corpus vectors do
    // the cap rides the SAME collect job: limit(cap+1) bounds what can
    // ever reach the driver, and one extra row proves the violation
    val qArr = queries
      .select(col(queryIdCol), col(vecCol).cast("array<float>").as("qv"))
      .where(col(queryIdCol).isNotNull && finiteVec(col("qv")))
      .limit(maxQueries + 1)
      .collect()
      .map(r => (r.get(0), r.getSeq[Float](1).toArray))
    if (qArr.length > maxQueries) oversizedQueries("pqTopK", maxQueries)
    qArr.foreach { case (qid0, v) =>
      require(v.length == dim,
        s"pqTopK: query vector (id=$qid0) has dim ${v.length} but the " +
          s"codebooks quantize dim $dim (m·subDim) — the embedding space " +
          "changed since the PQ store was trained; retrain the store (or " +
          "filter mixed-dim rows first if they are expected)") }
    // 2) per-query m×k LUTs of partial squared distances, built ONCE at
    // the driver from UNIT queries (spherical PQ — LUT distances must be
    // sphere-to-sphere) and shipped as one reference object; the exact
    // re-rank below keeps the raw qArr (cosine is scale-invariant, and
    // the output should echo the input)
    val luts: Array[Array[Array[Double]]] = qArr.map { case (_, v0) =>
      val qv = unitVec(v0)
      Array.tabulate(mm) { j =>
        val sub = cbs(j)
        Array.tabulate(sub.length) { c =>
          var d = 0.0; var i = 0
          while (i < sd) {
            val t = qv(j * sd + i).toDouble - sub(c)(i); d += t * t; i += 1
          }
          d
        }
      }
    }
    // 3) ADC scan: ONE native PqAdcNeg node per row (negated distances so
    // the shared (sim DESC, vec_id ASC) heap ranks lowest distance first),
    // posexplode'd to (query index, sim) and mapped back to query ids
    // through a broadcast |queries|-row frame
    val qIdx = spark.createDataFrame(
      java.util.Arrays.asList(qArr.zipWithIndex.map { case ((qid0, _), i) =>
        Row(i, qid0) }: _*),
      StructType(Seq(
        StructField("qi", IntegerType, nullable = false),
        StructField("query_id", qidType))))
    val scored = codes
      .select(col("vec_id"), posexplode(
        graft.functions.expressions.PqAdcNeg(col("codes"), luts))
        .as(Seq("qi", "sim")))
      .join(broadcast(qIdx), Seq("qi"))
      .select("query_id", "vec_id", "sim")
    val cands = topKPerQuery(scored, k * candidateFactor)
      .select("query_id", "vec_id")
    // 4) exact re-rank: true vectors join the SMALL candidate frame. The
    // query vectors are the ALREADY-COLLECTED, already-validated qArr
    // localized back into a frame — re-using the input `queries` plan
    // here would evaluate its whole subtree a second time (a filtered
    // scan, an expensive upstream transform)
    val qLocal = spark.createDataFrame(
      java.util.Arrays.asList(qArr.map { case (qid0, v) =>
        Row(qid0, v.toSeq) }: _*),
      StructType(Seq(
        StructField("query_id", qidType),
        StructField("qvec", ArrayType(FloatType)))))
    val rescored = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("cvec"))
      .join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(qLocal), Seq("query_id"))
      .withColumn("sim", cosine(col("cvec"), col("qvec")))
    topKPerQuery(rescored.select("query_id", "vec_id", "sim"), k)
  }

  /**
   * Persistable PRODUCT-QUANTIZATION codebook store — the
   * [[codebookFrame]] contract for [[pqCodebooks]]: one row per
   * (subspace, centroid) plus the parameters it was trained with,
   * stamped as `pq_m` / `pq_k` / `pq_kmeans_iters` / `pq_sub_dim` /
   * `pq_rows` / `pq_norm` (RLE'd to ~nothing in parquet). Write it after corpus
   * build N; run N+1 re-loads the parquet and passes it to [[pqTopK]]
   * (`codebookView` on the `ann_topk` transform) — the run then pays no
   * sampling scan, and yesterday's codes frames stay comparable to
   * today's (retraining would silently re-cell every vector). O(m·k·
   * subDim) — trivially small; the same loud stamp-mismatch contract as
   * every other graft store applies on read. */
  def pqCodebookFrame(corpus: DataFrame, idCol: String, vecCol: String,
                      m: Int = 8, k: Int = 16, kmeansIters: Int = 3,
                      refineSampleSize: Int = DefaultRefineSample): DataFrame = {
    val cbs = pqCodebooks(corpus, idCol, vecCol, m, k, kmeansIters,
      refineSampleSize)
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = for {
      (cb, j) <- cbs.zipWithIndex
      (v, c) <- cb.zipWithIndex
    } yield (j, c, v.toSeq)
    val total = rows.length
    rows.toSeq.toDF("subspace", "list_id", "vec")
      .select(col("subspace"), col("list_id"),
        col("vec").cast("array<float>"),
        lit(m).as("pq_m"), lit(k).as("pq_k"),
        lit(kmeansIters).as("pq_kmeans_iters"),
        lit(cbs(0)(0).length).as("pq_sub_dim"),
        // the PRODUCED row count: a store that lost tail rows (partial
        // overwrite, a LIMITed view) cannot pass the dense-grid check
        // with a shrunken codebook
        lit(total).as("pq_rows"),
        // geometry version: 1 = spherical (codebooks trained on, and codes
        // assigned from, L2-normalized vectors). The loader REQUIRES this
        // stamp — a store trained in raw space would silently re-cell
        // every vector under the normalized encode path (the
        // bpe_escape_version precedent)
        lit(PqNormSpherical).as("pq_norm"))
  }

  /** Load + validate a persisted [[pqCodebookFrame]] store into the
    * driver codebook array (O(m·k·subDim) — the bounded driver read
    * class of [[loadCodebook]]). Fails fast on missing stamps, a stamp
    * that disagrees with what the caller requests (`want*` empty =
    * "whatever the store was built with"), a row count that disagrees
    * with `pq_rows`, and any hole in the (subspace, list_id) grid — a
    * hole would silently renumber centroids and re-cell every encoded
    * vector. Subspaces must all carry the same centroid count (the
    * [[pqCodebooks]] construction guarantees it; a store that lost one
    * subspace's tail is corrupt, not smaller). */
  def loadPqCodebooks(store: DataFrame, wantM: Option[Int] = None,
                      wantK: Option[Int] = None,
                      wantKmeansIters: Option[Int] = None,
                      kName: String = "k")
      : Array[Array[Array[Float]]] = {
    // kName: the mismatch message must name the knob THE CALLER types —
    // the declarative route spells k "nCentroids" (ann_topk already has a
    // k option meaning top-k)
    val f = Stores.PqCodebook.withKnob("pq_k", kName)
    val rows = Stores.collect(store, f, Seq(col("subspace").cast("int"),
      col("list_id").cast("int"), col("vec").cast("array<float>")))
    val st = Stores.stampsOf(f, rows, 3, wantM, wantK, wantKmeansIters, None,
      None, Some(PqNormSpherical)).map(_.asInstanceOf[Int])
    val (sm, sd, sr) = (st(0), st(3), st(4))
    // the (subspace, list_id) grid flattened to one dense id sequence
    val perSub = if (sm > 0) sr / sm else 0
    val order = Stores.denseOrder("pq codebook store (subspace, list_id) cells",
      rows.map { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) null
        else {
          val (j, c) = (r.getInt(0), r.getInt(1))
          if (j < 0 || j >= sm || c < 0 || c >= perSub) null else j * perSub + c
        }
      }.toIndexedSeq, sr)
    Stores.vectors("pq codebook store centroid",
      order.toSeq.zipWithIndex.map { case (r, i) =>
        (s"(subspace ${i / perSub}, list_id ${i % perSub})", rows(r).get(2)) },
      sd).grouped(perSub).toArray
  }

  /**
   * Spherical k-means (Lloyd) refinement of an IVF codebook: per round,
   * assign every sampled vector to its cosine-nearest centroid and replace
   * each centroid with its members' normalized mean. Tightens the
   * hash-sampled codebook so IVF lists actually follow the corpus density
   * (higher recall at the same nProbe).
   *
   * Scale shape: ONE bounded TakeOrdered pass collects a deterministic
   * hash-ordered sample of `refineSampleSize` vectors (map-side partial
   * top-N — O(sample·dim) driver memory, documented above), and every
   * Lloyd round runs LOCALLY over that sample. The previous shape ran each
   * round as a full distributed corpus scan (assignment projection +
   * (list,dim)-keyed aggregation + collect) — iters extra corpus scans
   * that at 100 TB would re-read the whole corpus per round to improve a
   * codebook a bounded sample estimates just as well (mini-batch k-means,
   * Sculley 2010). Empty lists keep their previous centroid (no NaNs,
   * codebook size stable). Deterministic end to end: hash-ordered sample,
   * left-to-right double sums, lower-id tie-break identical to
   * [[graft.functions.expressions.ArgTopCentroids]] — no RNG.
   */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nLists: Int, iters: Int,
                      refineSampleSize: Int = DefaultRefineSample): Array[Array[Float]] = {
    // ONE sampling pass covers both the codebook init and (when refining)
    // the Lloyd sample: the first nLists rows of the larger hash-ordered
    // sample ARE exactly the nLists-row codebook (same ordering, same scan)
    val sampleN = if (iters > 0) math.max(nLists, refineSampleSize) else nLists
    val sample = sampledCodebook(corpus, idCol, vecCol, sampleN)
    val base = sample.take(nLists)
    if (base.length <= 1 || iters <= 0) base
    else refineCentroids(sample, base, iters)
  }

  /** Deterministic 64-bit fingerprint of a PQ codebook's exact float
    * bits (FNV-1a over every centroid component, subspace-major). Codes
    * are meaningless outside the codebook that assigned them, and two
    * trainings can share every parameter stamp while producing different
    * centroids (different corpus day, different sample) — the
    * fingerprint is what lets a persisted CODES store prove it was
    * encoded under the codebook the query is about to scan with. */
  def pqCodebookHash(cbs: Array[Array[Array[Float]]]): Long =
    fnvFloats(0xcbf29ce484222325L, cbs.iterator.flatMap(_.iterator))

  /** The [[pqCodebookHash]] statement for the COMBINED IVFADC quantizer:
    * fingerprints the coarse centroids THEN the residual codebooks, so
    * retraining either half re-fingerprints the pair. */
  def ivfPqStoreHash(cents: Array[Array[Float]],
                     cbs: Array[Array[Array[Float]]]): Long =
    fnvFloats(fnvFloats(0xcbf29ce484222325L, cents.iterator),
      cbs.iterator.flatMap(_.iterator))

  private def fnvFloats(h0: Long, arrays: Iterator[Array[Float]]): Long = {
    var h = h0
    def mix(x: Int): Unit = {
      var i = 0
      while (i < 4) {
        h ^= (x >>> (i * 8)) & 0xFF
        h *= 0x100000001b3L
        i += 1
      }
    }
    arrays.foreach { cv =>
      var t = 0
      while (t < cv.length) { mix(java.lang.Float.floatToIntBits(cv(t))); t += 1 }
    }
    h
  }

  /**
   * Persistable PQ CODES store — the OTHER half of the incremental PQ
   * story: [[pqCodebookFrame]] persists the quantizer, this persists the
   * quantized corpus, and a run that loads both trains NOTHING and
   * ENCODES NOTHING (the encode is the candidate phase's only full-width
   * corpus read; at 100 TB it dominates the query). One slim row per
   * vector — (vec_id, codes) — stamped with the encode geometry
   * (`pq_codes_m` / `pq_codes_sub_dim` / `pq_codes_norm`) and, load-
   * bearing, `pq_cb_hash`: the [[pqCodebookHash]] fingerprint of the
   * exact codebook floats, so a codes frame can NEVER silently scan
   * under a retrained codebook with identical parameters (the cells
   * would mean something else — the worst silent-garbage class). Null /
   * non-finite vectors are excluded, exactly as the inline encode
   * excludes them.
   */
  def pqCodesFrame(corpus: DataFrame, idCol: String, vecCol: String,
                   cbs: Array[Array[Array[Float]]]): DataFrame = {
    corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<float>").as("v"))
      .where(col("vec_id").isNotNull && finiteVec(col("v")))
      .select(col("vec_id"),
        graft.functions.expressions.PqEncode(col("v"), cbs).as("codes"),
        lit(cbs.length).as("pq_codes_m"),
        lit(cbs(0)(0).length).as("pq_codes_sub_dim"),
        lit(PqNormSpherical).as("pq_codes_norm"),
        lit(pqCodebookHash(cbs)).as("pq_cb_hash"))
  }

  /** Validate a persisted [[pqCodesFrame]] against the codebook about to
    * scan it and return the slim (vec_id, codes) frame. The stamp checks
    * are all driver-cheap column/limit probes — the corpus-sized frame
    * itself is never collected. */
  private def loadPqCodes(store: DataFrame,
                          cbs: Array[Array[Array[Float]]]): DataFrame = {
    Stores.check(store, Stores.PqCodes, cbs.length, cbs(0)(0).length,
      PqNormSpherical, pqCodebookHash(cbs))
    store.select(col("vec_id"), col("codes"))
  }

  /**
   * Persistable IVFADC CODES store — [[pqCodesFrame]] for the composed
   * quantizer: one slim (vec_id, list_id, codes) row per vector, stamped
   * with the encode geometry and `ivfpq_cb_hash` (the
   * [[ivfPqStoreHash]] fingerprint over BOTH halves). A run that loads
   * the combined store AND this frame trains nothing and encodes
   * nothing; the probed-list join prunes the pre-encoded frame exactly
   * as it prunes a fresh encode.
   */
  def ivfPqCodesFrame(corpus: DataFrame, idCol: String, vecCol: String,
                      cents: Array[Array[Float]],
                      cbs: Array[Array[Array[Float]]]): DataFrame = {
    corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<float>").as("v"))
      .where(col("vec_id").isNotNull && finiteVec(col("v")))
      .select(col("vec_id"),
        graft.functions.expressions.IvfPqEncode(col("v"), cents, cbs).as("e"))
      .select(col("vec_id"), col("e.list_id").as("list_id"),
        col("e.codes").as("codes"),
        lit(cbs.length).as("ivfpq_codes_m"),
        lit(cbs(0)(0).length).as("ivfpq_codes_sub_dim"),
        lit(PqNormSpherical).as("ivfpq_codes_norm"),
        lit(ivfPqStoreHash(cents, cbs)).as("ivfpq_cb_hash"))
  }

  /** Validate a persisted [[ivfPqCodesFrame]] against the quantizer
    * about to scan it ([[loadPqCodes]]'s contract, both-halves
    * fingerprint). */
  private def loadIvfPqCodes(store: DataFrame, cents: Array[Array[Float]],
                             cbs: Array[Array[Array[Float]]]): DataFrame = {
    Stores.check(store, Stores.IvfPqCodes, cbs.length, cbs(0)(0).length,
      PqNormSpherical, ivfPqStoreHash(cents, cbs))
    store.select(col("vec_id"), col("list_id"), col("codes"))
  }

  /** Train both IVFADC halves off ONE bounded hash-ordered sample: the
    * spherical coarse codebook, then RESIDUAL PQ codebooks over
    * `unit(v) − centroid(assign(v))` of the same sample — the
    * corpus is scanned exactly once however many quantizers train.
    * Returns null when the corpus is too small to quantize (≤1 valid
    * vector — callers fall back to brute force, the IVF convention). */
  private def trainIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                         nLists: Int, m: Int, nCentroids: Int,
                         kmeansIters: Int, refineSampleSize: Int)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val sampleN =
      if (kmeansIters > 0) math.max(math.max(nLists, nCentroids), refineSampleSize)
      else math.max(nLists, nCentroids)
    val sample = sampledCodebook(corpus, idCol, vecCol, sampleN)
    val base = sample.take(nLists)
    if (base.length <= 1) return null
    val cents =
      if (kmeansIters > 0) refineCentroids(sample, base, kmeansIters) else base
    val dim = cents(0).length
    require(dim % m == 0,
      s"ivfPqTopK: vector dim $dim is not divisible by m=$m subspaces")
    import org.apache.spark.sql.catalyst.util.ArrayData
    val residuals = sample.collect { case v if v.length == dim =>
      graft.functions.expressions.IvfPqEncode.residual(
        ArrayData.toArrayData(v), cents, isDouble = false)
    }.collect { case r if r != null => r._2 }
    (cents, pqCodebooksFromSample(residuals, m, nCentroids, kmeansIters,
      "ivfPqTopK"))
  }

  /**
   * IVFADC top-k — the composition the PQ paper actually ships at
   * billion scale (Jégou, Douze, Schmid, TPAMI 2011 §V): a coarse
   * spherical IVF codebook routes each vector to a list, PRODUCT
   * QUANTIZATION trains on the RESIDUALS `unit(v) − centroid(list)`
   * (far tighter than the raw distribution, so the same m·k cells
   * resolve much finer), and the ADC candidate scan touches ONLY the
   * lists each query probes — nProbe/nLists of the codes frame, where
   * flat [[pqTopK]] scans all of it.
   *
   * Plan shape: encode is ONE fused native node
   * ([[graft.functions.expressions.IvfPqEncode]] — assign + residual +
   * code word, codegen'd, both codebooks as reference objects) into a
   * slim (vec_id, list_id, codes) frame; the (list_id → probe) pairs of
   * the collected queries broadcast-join it (the pruning step), and each
   * surviving row pays one m-lookup [[graft.functions.expressions.PqAdcAt]]
   * against its probe's residual LUT; candidates ride the shared
   * bounded-heap top-k and re-rank by exact cosine, like every other
   * method.
   *
   * The planted-twin guarantee composes: an identical (or positively
   * scaled) twin assigns to the query's own nearest list — which nProbe
   * ≥ 1 always probes — with residual equal to the query's, so its code
   * word attains the global-minimum ADC distance within the probed set;
   * recall is again bounded only by quantization-cell ties under the
   * (sim DESC, id ASC) tie-break. Degenerate corpora fall back to
   * [[bruteForceTopK]].
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, queryIdCol: String, k: Int,
                nLists: Int = 16, nProbe: Int = 4,
                m: Int = 8, nCentroids: Int = 16, kmeansIters: Int = 3,
                candidateFactor: Int = 8,
                refineSampleSize: Int = DefaultRefineSample,
                store: Option[(Array[Array[Float]], Array[Array[Array[Float]]])] = None,
                codesStore: Option[DataFrame] = None,
                maxQueries: Int = DefaultMaxQueries)
      : DataFrame = {
    require(k >= 1, s"ivfPqTopK: k must be >= 1, got $k")
    require(maxQueries >= 1,
      s"ivfPqTopK: maxQueries must be >= 1, got $maxQueries")
    require(nProbe >= 1, s"ivfPqTopK: nProbe must be >= 1, got $nProbe")
    require(candidateFactor >= 1,
      s"ivfPqTopK: candidateFactor must be >= 1, got $candidateFactor")
    require(codesStore.isEmpty || store.nonEmpty,
      "ivfPqTopK: a codes store is only meaningful against the combined " +
        "store it was encoded under — pass the loaded (centroids, " +
        "codebooks) alongside it")
    val trained = store.getOrElse(trainIvfPq(corpus, idCol, vecCol,
      nLists, m, nCentroids, kmeansIters, refineSampleSize))
    if (trained == null || trained._1.length <= 1 ||
        trained._2.exists(_.length <= 1))
      return bruteForceTopK(corpus, queries, idCol, vecCol, queryIdCol, k,
        maxQueries = maxQueries)
    val (cents, cbs) = trained
    val mm = cbs.length
    val sd = cbs(0)(0).length
    val dim = mm * sd
    val spark = corpus.sparkSession
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.util.ArrayData
    val qidType = queries.schema(queryIdCol).dataType
    // slim (vec_id, list_id, codes) frame — a persisted codes store
    // (fingerprint-validated against THIS quantizer) skips the encode
    // scan; otherwise ONE fused native encode node
    val enc = codesStore match {
      case Some(cs) => loadIvfPqCodes(cs, cents, cbs)
      case None => corpus
        .select(col(idCol).as("vec_id"), col(vecCol).cast("array<float>").as("v"))
        .where(col("vec_id").isNotNull && finiteVec(col("v")))
        .select(col("vec_id"),
          graft.functions.expressions.IvfPqEncode(col("v"), cents, cbs).as("e"))
        .select(col("vec_id"), col("e.list_id").as("list_id"),
          col("e.codes").as("codes"))
    }
    // cap rides the same collect job (see pqTopK)
    val qArr = queries
      .select(col(queryIdCol), col(vecCol).cast("array<float>").as("qv"))
      .where(col(queryIdCol).isNotNull && finiteVec(col("qv")))
      .limit(maxQueries + 1)
      .collect()
      .map(r => (r.get(0), r.getSeq[Float](1).toArray))
    if (qArr.length > maxQueries) oversizedQueries("ivfPqTopK", maxQueries)
    qArr.foreach { case (qid0, v) =>
      require(v.length == dim,
        s"ivfPqTopK: query vector (id=$qid0) has dim ${v.length} but the " +
          s"store quantizes dim $dim (m·subDim) — the embedding space " +
          "changed since the IVFPQ store was trained; retrain the store") }
    // probe pairs + per-probe residual LUTs, built once at the driver:
    // probe lists by the SAME ArgTopCentroids arithmetic the encode node
    // assigns with, residual from the UNIT query (spherical contract)
    val probeRows = new scala.collection.mutable.ArrayBuffer[Row]()
    val lutsB = new scala.collection.mutable.ArrayBuffer[Array[Array[Double]]]()
    qArr.foreach { case (qid0, v) =>
      val probed = graft.functions.expressions.ArgTopCentroids.compute(
        ArrayData.toArrayData(v), cents, nProbe, isDouble = false,
        checkNulls = false)
      if (probed != null) {
        val qu = unitVec(v)
        var p = 0
        while (p < probed.numElements()) {
          val li = probed.getInt(p)
          val cv = cents(li)
          val rq = Array.tabulate(dim)(i => qu(i).toDouble - cv(i))
          lutsB += Array.tabulate(mm) { j =>
            val sub = cbs(j)
            Array.tabulate(sub.length) { c =>
              val sv = sub(c)
              var d = 0.0; var i = 0
              while (i < sd) {
                val t = rq(j * sd + i) - sv(i); d += t * t; i += 1
              }
              d
            }
          }
          probeRows += Row(li, lutsB.length - 1, qid0)
          p += 1
        }
      }
    }
    val luts = lutsB.toArray
    val probeDf = spark.createDataFrame(
      java.util.Arrays.asList(probeRows.toSeq: _*),
      StructType(Seq(
        StructField("list_id", IntegerType, nullable = false),
        StructField("pi", IntegerType, nullable = false),
        StructField("query_id", qidType))))
    // pruned ADC scan: rows survive ONLY into probes of their own list
    val scored = enc.join(broadcast(probeDf), Seq("list_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.expressions.PqAdcAt(col("codes"), col("pi"), luts)
          .as("sim"))
    val cands = topKPerQuery(scored, k * candidateFactor)
      .select("query_id", "vec_id")
    // exact re-rank against the true vectors — pqTopK step 4 verbatim
    val qLocal = spark.createDataFrame(
      java.util.Arrays.asList(qArr.map { case (qid0, v) =>
        Row(qid0, v.toSeq) }: _*),
      StructType(Seq(
        StructField("query_id", qidType),
        StructField("qvec", ArrayType(FloatType)))))
    val rescored = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("cvec"))
      .join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(qLocal), Seq("query_id"))
      .withColumn("sim", cosine(col("cvec"), col("qvec")))
    topKPerQuery(rescored.select("query_id", "vec_id", "sim"), k)
  }

  /**
   * Persistable COMBINED IVFADC store — both halves in one
   * stamp-family frame: `part = 'ivf'` rows carry the coarse centroids
   * (subspace 0, list_id = centroid id, vec of full dim), `part = 'pq'`
   * rows the residual codebooks (subspace 0..m−1, list_id = centroid id
   * within the subspace, vec of subDim). Stamps `ivfpq_n_lists` /
   * `ivfpq_m` / `ivfpq_k` / `ivfpq_kmeans_iters` / `ivfpq_sub_dim` /
   * `ivfpq_rows` / `ivfpq_norm` (RLE'd to ~nothing in parquet). Write it
   * after corpus build N; run N+1 re-loads the parquet and passes it to
   * `ann_topk method: ivfpq` via `codebookView` — no sampling scan, and
   * yesterday's list assignments + code cells stay comparable to
   * today's. O(nLists·dim + m·k·subDim) — trivially small.
   */
  def ivfPqStoreFrame(corpus: DataFrame, idCol: String, vecCol: String,
                      nLists: Int = 16, m: Int = 8, nCentroids: Int = 16,
                      kmeansIters: Int = 3,
                      refineSampleSize: Int = DefaultRefineSample): DataFrame = {
    val trained = trainIvfPq(corpus, idCol, vecCol, nLists, m, nCentroids,
      kmeansIters, refineSampleSize)
    require(trained != null,
      "ivfPqStoreFrame: corpus has fewer than 2 valid vectors — nothing " +
        "to quantize (and the search would fall back to brute force)")
    val (cents, cbs) = trained
    val spark = corpus.sparkSession
    import spark.implicits._
    val ivfRows = cents.zipWithIndex.map { case (v, l) =>
      ("ivf", 0, l, v.toSeq) }
    val pqRows = for {
      (cb, j) <- cbs.zipWithIndex
      (v, c) <- cb.zipWithIndex
    } yield ("pq", j, c, v.toSeq)
    val rows = ivfRows ++ pqRows
    rows.toSeq.toDF("part", "subspace", "list_id", "vec")
      .select(col("part"), col("subspace"), col("list_id"),
        col("vec").cast("array<float>"),
        lit(cents.length).as("ivfpq_n_lists"),
        lit(m).as("ivfpq_m"), lit(nCentroids).as("ivfpq_k"),
        lit(kmeansIters).as("ivfpq_kmeans_iters"),
        lit(cbs(0)(0).length).as("ivfpq_sub_dim"),
        lit(rows.length).as("ivfpq_rows"),
        lit(PqNormSpherical).as("ivfpq_norm"))
  }

  /** Load + validate a persisted [[ivfPqStoreFrame]] into the driver
    * (centroids, residual codebooks) pair — the bounded driver read
    * class of [[loadCodebook]]/[[loadPqCodebooks]], with the same loud
    * failure contract: missing stamps, conflicting stamps, lost rows,
    * grid holes in either part, a geometry version this engine doesn't
    * encode with, and caller expectations that disagree with training. */
  def loadIvfPqStore(store: DataFrame, wantNLists: Option[Int] = None,
                     wantM: Option[Int] = None, wantK: Option[Int] = None,
                     wantKmeansIters: Option[Int] = None)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val f = Stores.IvfPqStore
    val rows = Stores.collect(store, f, Seq(col("part").cast("string"),
      col("subspace").cast("int"), col("list_id").cast("int"),
      col("vec").cast("array<float>")))
    val st = Stores.stampsOf(f, rows, 4, wantNLists, wantM, wantK,
      wantKmeansIters, None, None, Some(PqNormSpherical))
      .map(_.asInstanceOf[Int])
    val (nl, sm, sd, sr) = (st(0), st(1), st(4), st(5))
    // both parts flattened to one dense id sequence: coarse centroids
    // first, then the residual (subspace, list_id) grid
    val perSub = if (sm > 0) (sr - nl) / sm else 0
    val order = Stores.denseOrder("ivfpq store (part, subspace, list_id) cells",
      rows.map { r =>
        if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)) null
        else {
          val (j, c) = (r.getInt(1), r.getInt(2))
          r.getString(0) match {
            case "ivf" if j == 0 && c >= 0 && c < nl => c
            case "pq" if j >= 0 && j < sm && c >= 0 && c < perSub =>
              nl + j * perSub + c
            case _ => null
          }
        }
      }.toIndexedSeq, sr)
    val cents = Stores.vectors("ivfpq store coarse centroid",
      order.toSeq.take(nl).zipWithIndex.map { case (r, i) =>
        (s"list_id $i", rows(r).get(3)) }, sm * sd)
    val cbs = Stores.vectors("ivfpq store residual centroid",
      order.toSeq.drop(nl).zipWithIndex.map { case (r, i) =>
        (s"(subspace ${i / perSub}, list_id ${i % perSub})", rows(r).get(3)) },
      sd).grouped(perSub).toArray
    (cents, cbs)
  }

  /** Driver-local Lloyd rounds over the collected sample. Per-centroid
    * cosine uses the same fused loop and (sim DESC, id ASC) tie-break as
    * [[graft.functions.expressions.ArgTopCentroids]], so local refinement
    * assigns exactly as the distributed projection would. */
  private def refineCentroids(sample: Array[Array[Float]],
                              init: Array[Array[Float]], iters: Int): Array[Array[Float]] = {
    var cents = init
    for (_ <- 1 to iters) {
      val dim = cents(0).length
      val acc = Array.fill(cents.length)(new Array[Double](dim))
      val cnt = new Array[Long](cents.length)
      // dim-mismatched sample vectors are EXCLUDED, exactly as the
      // distributed ArgTopCentroids projection excludes them (null
      // assignment) — a prefix-cosine assignment here would train the
      // codebook toward vectors no cluster can ever contain
      sample.foreach { v => if (v.length == dim) {
        var best = -1
        var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          val cv = cents(c)
          val n = math.min(v.length, cv.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < n) {
            val x = v(i).toDouble; val y = cv(i).toDouble
            dot += x * y; na += x * x; nb += y * y
            i += 1
          }
          val denom = math.sqrt(na) * math.sqrt(nb)
          val sim = if (denom == 0.0) 0.0 else dot / denom
          // NaN (an Inf/NaN component in the sample vector) never wins a
          // comparison — without the guard best stays -1 and acc(-1) AIOOBEs
          if (!sim.isNaN && sim > bestSim) { best = c; bestSim = sim }
          c += 1
        }
        if (best >= 0) {
          var i = 0
          while (i < dim) { acc(best)(i) += v(i); i += 1 }
          cnt(best) += 1
        }
      } }
      cents = cents.indices.map { l =>
        if (cnt(l) == 0L) cents(l)
        else {
          val mean = acc(l).map(_ / cnt(l))
          val norm = math.sqrt(mean.map(x => x * x).sum)
          if (norm == 0.0) cents(l) else mean.map(x => (x / norm).toFloat)
        }
      }.toArray
    }
    cents
  }

  /**
   * Embedding near-duplicate pairs via hyperplane-LSH blocking + exact
   * cosine verification: (id_a, id_b, sim) with sim ≥ threshold. Multiple
   * tables recover pairs a single bucketing would split.
   *
   * Scale shape (mirrors [[graft.dedup.Dedup.minhashNearDups]]): buckets are
   * computed ONCE into a SLIM (table_id, bucket, doc_id) frame — vectors
   * never enter the self-join shuffle; pathological buckets (boilerplate /
   * zero-ish embeddings) are capped at `maxBucketSize` BEFORE the join so no
   * mega-bucket can go quadratic at 100 TB; exact cosine runs only for
   * surviving candidate pairs, with vectors joined back by id. (The replaced
   * shape fed the full bucketed frame — giant plane projection included —
   * into BOTH sides of the self-join with no cap: the round-2 verdict's
   * 50.8 s / 45%-of-bench pathology.)
   */
  def cosineNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, bits: Int = 8, tables: Int = 4,
                     maxBucketSize: Int = 1000): DataFrame = {
    val ids = corpus.select(col(idCol).as("doc_id"), col(vecCol).as("vec"))
    val capped = cappedBuckets(ids, "doc_id", tables, bits, maxBucketSize,
      "hyperplane", selfPairs = true)
    val candidates = capped.select(col("table_id"), col("bucket"), col("doc_id").as("id_a"))
      .join(capped.select(col("table_id"), col("bucket"), col("doc_id").as("id_b")),
        Seq("table_id", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    verifiedCosine(candidates, "id_a", ids, "id_b", ids, threshold)
  }

  /**
   * SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
   * "SemDeDup: Data-efficient learning at web-scale through semantic
   * deduplication"): partition the corpus by spherical k-means cluster,
   * then compare embeddings pairwise WITHIN each cluster only — cosine ≥
   * `threshold` pairs come back as (id_a, id_b, sim). Complements
   * [[cosineNearDups]]: hyperplane LSH recovers verbatim-ish neighbors
   * whose vectors collide bucket-wise; density-following k-means cells
   * catch the "same content, different wording" duplicates that sit close
   * in embedding space but hash apart.
   *
   * Scale shape: the codebook is O(nClusters·dim) on the driver
   * ([[kmeansCentroids]] — hash-sampled init, driver-local Lloyd over a
   * bounded sample); assignment is the fused zero-shuffle ArgTopCentroids
   * projection into a SLIM (cluster_id, doc_id) frame — vectors never
   * enter the self-join shuffle; clusters above `maxClusterSize` are
   * dropped from pairing BEFORE the join (a mega-cluster means the
   * codebook is too coarse — raise nClusters), so no cell can go
   * quadratic; exact cosine runs only on surviving candidate pairs with
   * vectors joined back by id — the same capped-block discipline as every
   * other near-dup path in this engine.
   */
  def semanticNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nClusters: Int = 64,
                       kmeansIters: Int = 3,
                       maxClusterSize: Int = 1000,
                       codebook: Option[Array[Array[Float]]] = None): DataFrame = {
    val ids = corpus.select(col(idCol).as("doc_id"), col(vecCol).as("vec"))
    // a provided codebook (a persisted [[codebookFrame]] store via
    // [[loadCodebook]]) skips the sampling pass AND keeps cell geometry
    // identical across incremental runs
    val cents = codebook.getOrElse(
      kmeansCentroids(ids, "doc_id", "vec", nClusters, kmeansIters))

    val capped = cappedCells(ids, "doc_id", cents, maxClusterSize,
      "semantic_cell", selfPairs = true)
    val candidates = capped.select(col("cluster_id"), col("doc_id").as("id_a"))
      .join(capped.select(col("cluster_id"), col("doc_id").as("id_b")), Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    verifiedCosine(candidates, "id_a", ids, "id_b", ids, threshold)
  }

  /** Assign one side of a semantic-dedup join to its codebook cell (ONE
    * codebook for both sides of an incremental join, so an identical
    * vector lands in its stored copy's cell), then cap mega-cells loudly
    * before any join touches them. */
  private def cappedCells(frame: DataFrame, idName: String,
                          cents: Array[Array[Float]], maxClusterSize: Int,
                          tag: String, selfPairs: Boolean): DataFrame =
    graft.runtime.BucketCapObserver.cappedBlocks(
      frame.select(col(idName), graft.functions.expressions.ArgTopCentroids(
        col("vec"), cents, 1).getItem(0).as("cluster_id")),
      Seq("cluster_id"), maxClusterSize, tag, selfPairs, sizeCol = "cluster_n")

  /** Exact-cosine verification every embedding near-dup path shares: join
    * each candidate pair's vectors back by id (`a`, `b`: (id, `vec`)
    * frames whose id column becomes `idA`/`idB`), keep the pairs whose
    * RAW cosine is at least `threshold`, and round only the output. */
  private def verifiedCosine(candidates: DataFrame, idA: String, a: DataFrame,
                             idB: String, b: DataFrame,
                             threshold: Double): DataFrame = {
    def side(f: DataFrame, id: String, v: String) = {
      val src = f.columns.head
      f.select(if (src == id) col(id) else col(src).as(id), col("vec").as(v))
    }
    candidates.join(side(a, idA, "va"), Seq(idA)).join(side(b, idB, "vb"), Seq(idB))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col(idA), col(idB), round(col("sim"), 4).as("sim"))
  }

  /** Hyperplane-bucket one side of an embedding-dedup join: bucket
    * (deterministic seeded hyperplanes — IDENTICAL planes on both sides of
    * an incremental join, so an identical vector lands in identical
    * buckets in every table), then cap mega-buckets loudly before any join
    * touches them. */
  private def cappedBuckets(frame: DataFrame, idName: String, tables: Int,
                            bits: Int, maxBucketSize: Int, tag: String,
                            selfPairs: Boolean): DataFrame =
    graft.runtime.BucketCapObserver.cappedBlocks(
      withBuckets(frame, idName, "vec", tables, bits)
        .select(col(idName), col("table_id"), col("bucket")),
      Seq("table_id", "bucket"), maxBucketSize, tag, selfPairs)

  /**
   * INCREMENTAL embedding-cosine near-dup — [[cosineNearDups]] against a
   * REFERENCE corpus instead of a self-join: the (id, ref_id, sim) hits
   * of `increment` rows within cosine ≥ `threshold` of ANY reference row.
   * The embedding-space counterpart of `dedup_against` /
   * [[graft.dedup.Dedup.minhashNearDupsAgainst]]: dedup today's crawl
   * increment against yesterday's 100 TB corpus without re-pairing (or
   * re-reading the text of) history — the reference side is scanned once
   * for its embeddings and only its slim (ref_id, table, bucket) frame
   * plus candidate vectors ever shuffle.
   *
   * Both sides bucket through the SAME deterministic seeded hyperplanes,
   * so an identical (or sign-preserved near-identical) vector collides
   * with its stored copy in every table — planted-twin recall is
   * structural, like the hamming/minhash incremental paths. Mega-buckets
   * cap loudly PER SIDE before the join (the one quadratic risk). A row
   * re-ingesting an id present in the reference pairs with its own stored
   * vector (sim 1.0) — exactly what an increment replaying yesterday's
   * row wants.
   */
  def cosineNearDupsAgainst(increment: DataFrame, reference: DataFrame,
                            idCol: String, vecCol: String,
                            refIdCol: String, refVecCol: String,
                            threshold: Double, bits: Int = 8,
                            tables: Int = 4,
                            maxBucketSize: Int = 1000): DataFrame = {
    val inc = increment.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val ref = reference.select(col(refIdCol).as("ref_id"),
      col(refVecCol).as("vec"))
    val l = cappedBuckets(inc, "id", tables, bits, maxBucketSize,
      "hyperplane-new", selfPairs = false)
    val r = cappedBuckets(ref, "ref_id", tables, bits, maxBucketSize,
      "hyperplane-ref", selfPairs = false)
    verifiedCosine(l.join(r, Seq("table_id", "bucket"))
      .select("id", "ref_id").dropDuplicates("id", "ref_id"),
      "id", inc, "ref_id", ref, threshold)
  }

  /**
   * INCREMENTAL semantic near-dup — [[semanticNearDups]] against a
   * REFERENCE corpus: the (id, ref_id, sim) hits of `increment` rows
   * within cosine ≥ `threshold` of any reference row sharing their
   * spherical k-means cell. Catches the paraphrase duplicates the
   * hyperplane route ([[cosineNearDupsAgainst]]) hashes apart — the
   * SemDeDup statement for nightly increments.
   *
   * ONE codebook assigns BOTH sides (passed in from a persisted
   * [[codebookFrame]] store, or trained here on the REFERENCE — the
   * stable distribution), so an identical vector lands in its stored
   * copy's cell by construction; recall for true twins is bounded only
   * by the per-side `maxClusterSize` cap, which fails loud via
   * [[graft.runtime.BucketCapObserver]], never silently. Prefer the
   * persisted-store route at scale: cells then ALSO stay comparable
   * across runs and the reference sampling scan disappears.
   */
  def semanticNearDupsAgainst(increment: DataFrame, reference: DataFrame,
                              idCol: String, vecCol: String,
                              refIdCol: String, refVecCol: String,
                              threshold: Double, nClusters: Int = 64,
                              kmeansIters: Int = 3,
                              maxClusterSize: Int = 1000,
                              codebook: Option[Array[Array[Float]]] = None)
      : DataFrame = {
    val inc = increment.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val ref = reference.select(col(refIdCol).as("ref_id"),
      col(refVecCol).as("vec"))
    val cents = codebook.getOrElse(
      kmeansCentroids(ref, "ref_id", "vec", nClusters, kmeansIters))
    // cross-join path: pairs_dropped is not computable per side
    verifiedCosine(cappedCells(inc, "id", cents, maxClusterSize,
        "semantic_cell-new", selfPairs = false)
      .join(cappedCells(ref, "ref_id", cents, maxClusterSize,
        "semantic_cell-ref", selfPairs = false), Seq("cluster_id"))
      .select("id", "ref_id").dropDuplicates("id", "ref_id"),
      "id", inc, "ref_id", ref, threshold)
  }
}
