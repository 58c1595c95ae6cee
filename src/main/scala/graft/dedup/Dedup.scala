package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/**
 * Document-deduplication suite for training-data pipelines: exact,
 * MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection.
 *
 * Scale design: signature computation is a PER-ROW native-expression
 * projection ([[graft.functions.expressions.MinHashFromHashes]] /
 * [[graft.functions.expressions.SimHashFromHashes]] over the
 * [[graft.functions.expressions.ShingleHashes]] byte scan) — ZERO shuffle;
 * the only exchanges in the near-dup pipelines carry the slim banded /
 * chunked candidate frames. (Two earlier shapes both lost: per-row HOF
 * folds evaluate interpreted and re-inline under CollapseProject — 203 s;
 * explode + hash-aggregate fixed that but its exchange carried every
 * document's partial state, roughly the whole hashed corpus, through a
 * full shuffle before any blocking.) Candidate generation is a
 * key-partitioned band-bucket join — O(rows × bands), never O(rows²). The
 * quadratic step (pair verification) happens only inside LSH buckets,
 * which stay small for non-adversarial corpora; skewed buckets
 * (boilerplate shingles) are capped with `maxBucketSize` the way
 * production near-dup pipelines drop mega-clusters.
 */
object Dedup {

  /** Exact dedup on a normalized text key: survivor = lowest id per key.
    * One shuffle on the (hashed) key; deterministic. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(trim(lower(col(textCol))), 256).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /**
   * Incremental exact dedup: drop every row of `df` whose normalized text
   * (same `trim(lower(·))` sha-256 key as [[exact]]) already appears in
   * `ref` — the daily-increment-vs-yesterday's-corpus shape, where
   * re-deduplicating the whole corpus per batch would rescan history.
   *
   * Scale shape: the reference reduces to a DISTINCT 32-byte hash frame
   * (its text never moves past its own scan), and the anti-join keys both
   * sides on that hash — a slim exchange AQE converts to a broadcast when
   * the reference increment is small.
   */
  def exactAgainst(df: DataFrame, textCol: String,
                   ref: DataFrame, refTextCol: String): DataFrame = {
    val refKeys = ref
      .select(sha2(trim(lower(col(refTextCol))), 256).as("__ref_hash"))
      .distinct()
    df.join(refKeys,
      sha2(trim(lower(col(textCol))), 256) === col("__ref_hash"), "left_anti")
  }

  /**
   * MinHash signature from PRE-HASHED shingles: each shingle string is
   * hashed once (strings are the expensive part); the k seeded hash
   * functions are derived by re-hashing the resulting long
   * (h_i = xxhash64(h, i)) — tabulation-style, ~5× cheaper than hashing
   * the string k times. Backed by the native one-pass
   * [[graft.functions.expressions.MinHashFromHashes]] (bit-identical to
   * both the HOF fold and the min-aggregate formulations, spec-asserted):
   * no explode, no shuffle, codegen'd.
   */
  def minhashSignatureFromHashes(shingleHashes: Column, k: Int): Column =
    graft.functions.expressions.MinHashFromHashes(shingleHashes, k)

  /** Convenience form over raw text (hashes shingles inline via the native
    * [[graft.functions.expressions.ShingleHashes]] scan). */
  def minhashSignature(text: Column, k: Int, shingleSize: Int): Column =
    minhashSignatureFromHashes(
      graft.functions.expressions.ShingleHashes(text, shingleSize), k)

  /**
   * MinHash + LSH near-duplicate pairs.
   * signature → `bands` bands of `rowsPerBand` → explode to (band, bandHash)
   * → self-join per bucket → verify with EXACT Jaccard over shingle sets.
   * Returns (idA, idB, jaccard) with idA < idB, jaccard ≥ threshold.
   */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4, shingleSize: Int = 3,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    val k = bands * rowsPerBand
    // stage 1: native ShingleHashes scan (tokenize + roll + distinct in one
    // allocation-free byte pass — profiled ~70% of this pipeline when done
    // as string-building HOFs) feeding the native one-pass k-min signature,
    // all PER ROW inside the scan projection: ZERO shuffle. Shingles stay
    // as HASHES from here on: Jaccard over hashed sets equals Jaccard over
    // the sets (collisions negligible) and longs are ~20× smaller than
    // shingle strings. Column pruning splits the two consumers below
    // automatically — the banded path scans text computing only `sig`, the
    // verify path only `sh` — so neither pays for the other, and no
    // corpus-sized exchange exists anywhere in the pipeline (the replaced
    // explode + hash-aggregate shape shuffled every document's partial
    // state — in effect the whole hashed corpus — before any blocking).
    val sigd = sigFrame(df, idCol, textCol, k, shingleSize)

    // stage 2: band explode on a SLIM (doc_id, band, bh) frame — the heavy
    // shingle arrays never enter the bands×rows shuffle — with pathological
    // buckets (boilerplate/empty docs) capped before the self-join
    val bucketed = cappedBands(sigd, bands, rowsPerBand, maxBucketSize)

    val candidates = bucketed.select(col("band"), col("bh"), col("doc_id").as("id_a"))
      .join(bucketed.select(col("band"), col("bh"), col("doc_id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")

    // stage 3: exact-Jaccard verification — join shingle-hash sets back
    // only for surviving candidate pairs
    val sets = sigd.select(col("doc_id"), col("sh"))
    val pairs = candidates
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val union = size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    // threshold the RAW jaccard; round only for output — filtering the
    // rounded value would admit pairs up to 5e-5 below the configured
    // threshold (the ANN cosine path has always done it this way)
    pairs
      .withColumn("__j", when(union === 0, 0.0).otherwise(inter / union))
      .filter(col("__j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__j"), 4).as("jaccard"))
  }

  /**
   * Incremental MinHash near-dup: (id, ref_id, jaccard) pairs between an
   * INCREMENT and an existing REFERENCE corpus — the fuzzy counterpart of
   * [[exactAgainst]] (today's crawl vs yesterday's corpus, where
   * re-running self-dedup over the union would rescan and re-shuffle all
   * of history). Same three stages as [[minhashNearDups]] — zero-shuffle
   * native signatures, slim band frames, exact-Jaccard verification on
   * candidates only — but the band join is increment × reference instead
   * of a self-join, so the quadratic surface is bounded by bucket overlap
   * BETWEEN the sides. Both sides band-hash with the identical expression
   * tree, so buckets align by construction. Here the reference signatures
   * are recomputed from `refTextCol` (one scan of the reference per run);
   * for the daily-increment loop persist them once with
   * [[minhashSignatures]] and match with
   * [[minhashNearDupsAgainstSignatures]] — the store never re-reads text.
   */
  def minhashNearDupsAgainst(
      df: DataFrame, ref: DataFrame, idCol: String, textCol: String,
      refIdCol: String, refTextCol: String,
      bands: Int = 16, rowsPerBand: Int = 4, shingleSize: Int = 3,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame =
    minhashAgainstCore(
      sigFrame(df, idCol, textCol, bands * rowsPerBand, shingleSize),
      sigFrame(ref, refIdCol, refTextCol, bands * rowsPerBand, shingleSize),
      bands, rowsPerBand, threshold, maxBucketSize)

  /**
   * Persistable MinHash signature store for a corpus: one row per document
   * with the shingle-hash set (`sh`, exact-Jaccard verification input), the
   * k-min signature (`sig`, band/bucket input) and the parameters they were
   * computed with (`mh_bands`/`mh_rows_per_band`/`mh_shingle` — RLE'd to
   * ~nothing in parquet, and [[minhashNearDupsAgainstSignatures]] fails
   * fast on a parameter mismatch instead of silently missing every
   * bucket). Write this frame to parquet after each corpus build; the next
   * increment then dedups against signatures alone — the store carries NO
   * text, so run N+1 never re-scans (or re-ships) yesterday's corpus.
   * Computing it is a ZERO-shuffle per-row projection.
   */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        bands: Int = 16, rowsPerBand: Int = 4,
                        shingleSize: Int = 3): DataFrame =
    sigFrame(df, idCol, textCol, bands * rowsPerBand, shingleSize)
      .withColumn("mh_bands", lit(bands))
      .withColumn("mh_rows_per_band", lit(rowsPerBand))
      .withColumn("mh_shingle", lit(shingleSize))

  /**
   * Incremental MinHash near-dup against a PERSISTED signature store (the
   * [[minhashSignatures]] layout): same output as
   * [[minhashNearDupsAgainst]], but the reference side reads (doc_id, sh,
   * sig) — at 100 TB this is the difference between re-scanning all of
   * history's text per increment and reading a slim signature parquet.
   * Fails fast if the store is missing columns or was written with
   * different bands/rowsPerBand/shingleSize than requested (mismatched
   * parameters would hash to disjoint buckets and silently report zero
   * duplicates — the worst failure mode for a dedup gate).
   */
  def minhashNearDupsAgainstSignatures(
      df: DataFrame, sigStore: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4, shingleSize: Int = 3,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    // the stamp columns are REQUIRED, not optional: a store without them
    // cannot prove it was built with this run's parameters
    graft.operators.Stores.check(sigStore, graft.operators.Stores.MinhashSignatures,
      bands, rowsPerBand, shingleSize)
    minhashAgainstCore(
      sigFrame(df, idCol, textCol, bands * rowsPerBand, shingleSize),
      sigStore.select("doc_id", "sh", "sig"),
      bands, rowsPerBand, threshold, maxBucketSize)
  }

  /** Zero-shuffle (doc_id, sh, sig) projection both minhash paths share. */
  private def sigFrame(d: DataFrame, id: String, text: String,
                       k: Int, shingleSize: Int): DataFrame = {
    val shc = graft.functions.expressions.ShingleHashes(col(text), shingleSize)
    d.select(col(id).as("doc_id"), shc.as("sh"),
      graft.functions.expressions.MinHashFromHashes(shc, k).as("sig"))
  }

  /** Slim (doc_id, band, bh) frame + mega-bucket cap. The cap's drop
    * counts are observed (`graft.cap.minhash.*` metrics + WARN line via
    * [[graft.runtime.BucketCapObserver]]) so the recall cost is visible
    * at runtime, not just documented. */
  private def cappedBands(sigd: DataFrame, bands: Int, rowsPerBand: Int,
                          maxBucketSize: Int, selfPairs: Boolean = true): DataFrame = {
    // native one-pass band hashing (bit-identical to the interpreted
    // hash(slice) HOF it replaces); posexplode's position IS the band
    val sized = sigd.select(col("doc_id"),
        posexplode(graft.functions.expressions.BandHashes(
          col("sig"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
    graft.runtime.BucketCapObserver.observeCap(
        sized, "minhash", "bucket_n", maxBucketSize, selfPairs = selfPairs)
      .filter(col("bucket_n") <= maxBucketSize)
      .select("doc_id", "band", "bh")
  }

  /** Stages 2–3 of the increment×reference match: band-bucket join for
    * candidates, exact Jaccard over shingle-hash sets for verification. */
  private def minhashAgainstCore(incSig: DataFrame, refSig: DataFrame,
                                 bands: Int, rowsPerBand: Int,
                                 threshold: Double, maxBucketSize: Int): DataFrame = {
    // selfPairs = false: these two caps guard an increment × reference
    // join, where forgone pairs depend on BOTH sides' bucket sizes
    val candidates = cappedBands(incSig, bands, rowsPerBand, maxBucketSize,
        selfPairs = false)
      .select(col("band"), col("bh"), col("doc_id").as("id"))
      .join(cappedBands(refSig, bands, rowsPerBand, maxBucketSize,
          selfPairs = false)
        .select(col("band"), col("bh"), col("doc_id").as("ref_id")),
        Seq("band", "bh"))
      .select("id", "ref_id").dropDuplicates("id", "ref_id")

    val pairs = candidates
      .join(incSig.select(col("doc_id").as("id"), col("sh").as("sh_a")), Seq("id"))
      .join(refSig.select(col("doc_id").as("ref_id"), col("sh").as("sh_b")), Seq("ref_id"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val union = size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    // raw-value threshold, rounded output — see minhashNearDups
    pairs
      .withColumn("__j", when(union === 0, 0.0).otherwise(inter / union))
      .filter(col("__j") >= threshold)
      .select(col("id"), col("ref_id"), round(col("__j"), 4).as("jaccard"))
  }

  /**
   * Bloom-filter decontamination — the FIXED-SIZE variant of
   * [[contaminationHits]] for benchmark sets too large to broadcast as an
   * exact DISTINCT hash set (an exact set of 10^8 shingle longs is ~800 MB
   * on every executor; a bloom at fpp 10^-4 is ~170 MB regardless of long
   * width, and fpp trades size down further). Returns the KEPT documents.
   *
   * Semantics vs the exact path: false positives only DROP clean
   * documents (probability ≈ 1 − (1 − fpp)^shingles per doc) — a
   * contaminated document is NEVER kept, the conservative direction for
   * training-data hygiene. The bloom is deterministic for fixed inputs.
   *
   * Scale shape: the benchmark reduces driver-side to one serialized
   * sketch (two jobs on the SMALL side — count + bloom aggregate, the
   * same O(small) driver-read class as the IVF codebook); the corpus then
   * pays ONE zero-shuffle, zero-join codegen'd filter —
   * `exists(shingle_hashes, might_contain)` over Spark's native
   * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]].
   */
  def bloomDecontaminate(docs: DataFrame, bench: DataFrame, textCol: String,
                         benchTextCol: String, shingleSize: Int = 3,
                         fpp: Double = 1e-4): DataFrame = {
    require(fpp > 0 && fpp < 1, s"bloomDecontaminate: fpp must be in (0,1), got $fpp")
    import graft.functions.expressions.ShingleHashes
    val hashes = bench
      .select(explode(ShingleHashes(col(benchTextCol), shingleSize)).as("sh"))
      .distinct()
    val expected = math.max(hashes.count(), 1L)
    val bloom = hashes.stat.bloomFilter("sh", expected, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val bloomLit = lit(bos.toByteArray)
    import org.apache.spark.sql.GraftBridge
    val mightContain = (h: Column) => GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        GraftBridge.expression(bloomLit), GraftBridge.expression(h)))
    // null-text docs have no shingles to test — kept, like the exact path
    docs.where(col(textCol).isNull ||
      !exists(ShingleHashes(col(textCol), shingleSize), mightContain))
  }

  /**
   * SimHash near-dup pairs: block on 16-bit chunks (any pair within
   * `maxHamming` ≤ 3 shares at least one of 4 chunks — pigeonhole), then
   * verify with bit_count(a XOR b). Linear candidate generation.
   */
  /** SimHash signatures as a per-row native projection: token OCCURRENCE
    * hashes (multiset — SimHash weights bits by frequency) via the
    * ShingleHashes byte scan (n=1, distinct=false) folded by
    * [[graft.functions.expressions.SimHashFromHashes]]. Zero shuffle, bit
    * identical to the 64-conditional-sum aggregate it replaces
    * (spec-asserted). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.expressions.SimHashFromHashes(
        graft.functions.expressions.ShingleHashes(col(textCol), 1, distinct = false)).as("sig"))

  /** (offset, width) per chunk of the adaptive pigeonhole blocking:
    * maxHamming+1 chunks tiling the 64 signature bits as evenly as
    * possible (the first 64 % n chunks get the extra bit). Exposed
    * package-private so the property spec can pin the guarantee that any
    * pair within the hamming budget shares >= 1 intact chunk. */
  private[dedup] def simhashChunkBounds(maxHamming: Int): Seq[(Int, Int)] = {
    val nChunks = maxHamming + 1
    val baseW = 64 / nChunks; val extra = 64 % nChunks
    (0 until nChunks).map { c =>
      (c * baseW + math.min(c, extra), baseW + (if (c < extra) 1 else 0))
    }
  }

  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame =
    hammingNearDups(simhashSignatures(df, idCol, textCol),
      maxHamming, maxBucketSize, "simhash")

  /**
   * Generic 64-bit-signature near-dup pairs under a hamming budget — the
   * engine shared by text SimHash ([[simhashNearDups]]) and perceptual
   * image hashes (`dedup_image` over [[graft.multimodal.Multimodal.dHash64]]):
   * input is a slim `(doc_id, sig)` frame, output `(id_a < id_b, hamming)`.
   *
   * Adaptive pigeonhole blocking: maxHamming+1 chunks guarantee a pair
   * within the distance shares >= 1 intact chunk (a FIXED 4-chunk layout
   * silently lost every hamming-4+ pair whose flips straddled all four
   * chunks). At the default maxHamming=3 this is the same 4x16-bit
   * layout as before, bit for bit. Wider distances mean narrower chunks
   * and fatter buckets — the cap observer makes that cost visible.
   * RECALL IS GUARANTEED within the budget (pigeonhole), up to buckets
   * dropped by `maxBucketSize` — which the observer reports.
   */
  def hammingNearDups(signatures: DataFrame, maxHamming: Int = 3,
                      maxBucketSize: Int = 10000,
                      tag: String = "hamming"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"${tag}NearDups: maxHamming must be in [0, 15] — blocking needs " +
        s"maxHamming+1 chunks of a 64-bit signature and chunks narrower " +
        s"than 4 bits degenerate into all-collide buckets, got $maxHamming")
    // null signatures (null text / undecodable media) can never pair —
    // without this filter they explode into null-chunk rows each, fire
    // bogus mega-bucket cap warnings, and ride the shuffle for nothing
    val chunked = hammingChunked(signatures, maxHamming, maxBucketSize, tag)
    val l = chunked.select(col("chunk"), col("ch"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val r = chunked.select(col("chunk"), col("ch"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "ch")).filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** The shared pigeonhole blocking half of the hamming engine: null
    * signatures dropped, maxHamming+1 chunk columns exploded, mega-
    * buckets capped (and observed) before any join touches them. */
  private def hammingChunked(signatures: DataFrame, maxHamming: Int,
                             maxBucketSize: Int, tag: String): DataFrame = {
    // null signatures (null text / undecodable media) can never pair —
    // without this filter they explode into null-chunk rows each, fire
    // bogus mega-bucket cap warnings, and ride the shuffle for nothing
    val sigs = signatures.where(col("sig").isNotNull)
    // static chunk array (count fixed at plan time) — stays codegen'd,
    // unlike the transform(sequence(...)) HOF form it replaces, which
    // evaluated interpreted per row
    val chunkStructs = simhashChunkBounds(maxHamming).zipWithIndex.map {
      case ((offset, width), c) =>
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        struct(lit(c).as("chunk"),
          call_function("shiftright", col("sig"), lit(offset))
            .bitwiseAND(mask).as("ch"))
    }
    val chunked0 = sigs.select(col("doc_id"), col("sig"),
        explode(array(chunkStructs: _*)).as("cc"))
      .select(col("doc_id"), col("sig"), col("cc.chunk"), col("cc.ch"))
    // cap pathological chunk buckets before the self-join, mirroring the
    // minhash band cap: near-identical boilerplate corpora put thousands of
    // docs behind one 16-bit chunk value, and an uncapped bucket self-join
    // is O(bucket²) — the one quadratic risk in this pipeline at scale.
    // Buckets above the cap are whole near-dup mega-clusters; production
    // pipelines drop (or route to exact-dedup) rather than pair them.
    graft.runtime.BucketCapObserver.observeCap(
        chunked0.withColumn("bucket_n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("chunk", "ch"))),
        tag, "bucket_n", maxBucketSize)
      .filter(col("bucket_n") <= maxBucketSize)
      .select("doc_id", "sig", "chunk", "ch")
  }

  /**
   * INCREMENTAL hamming near-dup against a PERSISTED signature store —
   * the [[minhashNearDupsAgainstSignatures]] statement for the 64-bit
   * perceptual-hash family (SimHash text, image dHash, audio aHash,
   * video tHash): returns the (id, hamming) hits of `newSigs` rows
   * within `maxHamming` bits of ANY store signature. At 100 TB this is
   * the difference between re-parsing (and re-decoding) all of
   * history's media per increment and reading a slim (doc_id, sig)
   * parquet. Both sides block through the same capped pigeonhole
   * chunking as the self-join form — recall within the budget stays
   * guaranteed, mega-buckets stay loud. The same-id pair is NOT special:
   * an id present in both frames pairs with its own stored signature
   * (hamming 0), which is exactly what an increment re-ingesting
   * yesterday's row wants.
   */
  def hammingNearDupsAgainstSignatures(newSigs: DataFrame, store: DataFrame,
                                       maxHamming: Int = 3,
                                       maxBucketSize: Int = 10000,
                                       tag: String = "hamming")
      : DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"${tag}NearDupsAgainstSignatures: maxHamming must be in [0, 15], " +
        s"got $maxHamming")
    val l = hammingChunked(newSigs, maxHamming, maxBucketSize, s"$tag-new")
      .select(col("chunk"), col("ch"), col("doc_id").as("id"),
        col("sig").as("sig_new"))
    val r = hammingChunked(store, maxHamming, maxBucketSize, s"$tag-store")
      .select(col("chunk"), col("ch"), col("doc_id").as("ref_id"),
        col("sig").as("sig_ref"))
    l.join(r, Seq("chunk", "ch"))
      .dropDuplicates("id", "ref_id")
      .withColumn("hamming", bit_count(col("sig_new").bitwiseXOR(col("sig_ref"))))
      .filter(col("hamming") <= maxHamming)
      .select("id", "ref_id", "hamming")
  }

  /**
   * Benchmark decontamination: find training documents that share any word
   * `shingleSize`-gram with a benchmark/eval set. Returns `(idCol,
   * n_overlap)` for contaminated docs only — `n_overlap` = number of
   * DISTINCT shared shingles (join it back left_anti to drop, or inspect).
   *
   * Scale design: benchmark sets are tiny next to a training corpus, so the
   * benchmark side reduces to a DISTINCT shingle-hash frame that is
   * BROADCAST — the corpus is never shuffled for the join; each partition
   * scans once, emits only hit (id, shingle) rows, and the final per-doc
   * aggregate shuffles hits alone (bounded by corpus ∩ benchmark, not the
   * corpus). Shingles are 64-bit [[graft.functions.expressions.ShingleHashes]]
   * — same tokenization as the MinHash pipeline; collision odds across a
   * corpus-scale shingle universe are ~2^-64 per pair, negligible even for
   * set membership.
   */
  def contaminationHits(docs: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, benchTextCol: String,
                        shingleSize: Int = 3): DataFrame = {
    val benchSh = bench
      .select(explode(graft.functions.expressions.ShingleHashes(
        col(benchTextCol), shingleSize)).as("sh"))
      .distinct()
    docs
      .select(col(idCol),
        explode(graft.functions.expressions.ShingleHashes(
          col(textCol), shingleSize)).as("sh"))
      .join(broadcast(benchSh), "sh")
      .groupBy(idCol)
      .agg(count_distinct(col("sh")).as("n_overlap"))
  }

  /**
   * Exact n-gram Jaccard similarity for a candidate pair set — the
   * verification primitive behind minhashNearDups, exposed directly for
   * small/blocked inputs.
   */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val sa = graft.functions.expressions.ShingleHashes(a, n)
    val sb = graft.functions.expressions.ShingleHashes(b, n)
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(array_union(sa, sb)).cast("double")
    round(when(union === 0, 0.0).otherwise(inter / union), 4)
  }

  /**
   * Connected components over a near-dup pair frame: every node labeled
   * with its component's minimum id. Near-dup PAIRS under-describe the
   * duplicate structure — "a≈b, b≈c" is one boilerplate cluster even when
   * (a,c) itself never collided — and cluster-level semantics ("keep one
   * document per cluster", "count cluster sizes") need the transitive
   * closure.
   *
   * Algorithm: distributed min-label propagation. Each round every node
   * offers its current label to its neighbors and keeps the minimum — a
   * self-join-free `(edges ⋈ labels) ∪ labels → min` per round, all hash
   * aggregations with map-side partials. Converges in O(component
   * diameter) rounds; near-dup components are short chains around a
   * template, so 3–5 rounds is typical. Each round caches the new
   * node-sized label frame (previous round unpersisted) and pays one
   * count job over it for the convergence check — O(log n)-round
   * large-star/small-star is the upgrade path if adversarial long-path
   * graphs ever matter.
   *
   * @param pairs frame with two id columns (`idA`, `idB`), one row per
   *              undirected edge
   * @param algorithm `minlabel` (default — O(diameter) rounds, the right
   *                  choice for near-dup graphs, which are short chains
   *                  around a template) or `star` — alternating
   *                  large-star/small-star ([[clustersStar]]), O(log n)
   *                  rounds on ADVERSARIAL long-path graphs
   * @return (id, cluster_id) for every node that appears in `pairs`
   */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIter: Int = 20, algorithm: String = "minlabel"): DataFrame = {
    algorithm match {
      case "minlabel" => clustersMinLabel(pairs, idA, idB, maxIter)
      case "star"     => clustersStar(pairs, idA, idB, maxIter)
      case other => throw new IllegalArgumentException(
        s"clusters algorithm must be minlabel|star, got '$other'")
    }
  }

  private def clustersMinLabel(pairs: DataFrame, idA: String, idB: String,
                               maxIter: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // each round's frame references the previous one TWICE (self ∪ offers),
    // so without lineage truncation the logical plan doubles per round —
    // the checkpoint materializes the node-sized frame and resets the plan
    // to a scan. Mode via spark.graft.checkpoint: local (default) or
    // reliable — executor-loss tolerance across a long convergence.
    var labels = graft.api.Checkpointing.checkpoint(
      edges.select(col("src").as("id")).distinct()
        .withColumn("cluster_id", col("id")), eager = false)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val offers = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("cluster_id"))
      // ONE job per round: the previous label rides along as __old (null
      // on offer rows; max() recovers it — every id has exactly one label
      // row), the new frame checkpoints LAZILY, and the convergence count
      // is the action that materializes it. The old shape (eager
      // checkpoint, then a join-against-previous count) was two jobs and
      // an extra shuffle per round — pure fixed overhead that dominated
      // wall-clock on small duplicate graphs.
      val oldType = labels.schema("cluster_id").dataType
      val next = graft.api.Checkpointing.checkpoint(
        labels.select(col("id"), col("cluster_id"),
            col("cluster_id").as("__old"))
          .union(offers.select(col("id"), col("cluster_id"),
            lit(null).cast(oldType).as("__old")))
          .groupBy("id").agg(min("cluster_id").as("cluster_id"),
            max("__old").as("__old")),
        eager = false)
      changed = next.where(col("cluster_id") =!= col("__old")).count()
      // the round above consumed the old frame for the last time — free
      // its checkpoint blocks NOW instead of waiting for driver GC (a
      // 20-round convergence would otherwise hold 20 node-sized block
      // sets on the executors simultaneously)
      labels.unpersist(blocking = false)
      labels = next
      iter += 1
    }
    edges.unpersist()
    // fail LOUDLY on non-convergence: exiting here with changed > 0 would
    // hand back labels where one real component carries several cluster_ids
    // — and `survivor: cluster` dedup would silently keep extra duplicates
    if (changed > 0) throw new IllegalStateException(
      s"Dedup.clusters did not converge after $maxIter rounds " +
        s"($changed labels still changing) — a duplicate chain longer than " +
        s"$maxIter links; raise maxIter (rounds needed = component diameter)")
    labels.select("id", "cluster_id")
  }

  /**
   * Alternating large-star/small-star connected components (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC'14): each round
   * rewires edges toward per-neighborhood minima —
   *
   *  - large-star: for every node u, hook each LARGER neighbor v to
   *    m = min(Γ(u) ∪ u);
   *  - small-star: on the larger→smaller orientation, hook u and all its
   *    smaller neighbors to their minimum.
   *
   * Both are one groupBy(min) + one join on the edge frame; the edge set
   * converges to direct (node → component-min) stars in O(log n) rounds
   * REGARDLESS of component diameter — the upgrade over [[clustersMinLabel]]
   * for adversarial long-path graphs (a 10^6-link chain needs ~20 star
   * rounds vs 10^6 label-propagation rounds). Per-round frames are
   * checkpointed ([[graft.api.Checkpointing]]) like the min-label loop;
   * convergence is an exact set-equality check (two `except` counts on the
   * edge-sized frame).
   */
  def clustersStar(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                   maxIter: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val nodes = pairs.select(col(idA).as("id"))
      .union(pairs.select(col(idB).as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // canonical larger→smaller orientation, self-loops dropped
    var edges = graft.api.Checkpointing.checkpoint(
      pairs.select(greatest(col(idA), col(idB)).as("hi"),
                   least(col(idA), col(idB)).as("lo"))
        .where(col("hi") =!= col("lo")).distinct())
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      // large-star over the symmetric view: m(u) = min(Γ(u) ∪ u); every
      // neighbor v > u re-hooks to m. Edges stay larger→smaller by
      // construction (v > u >= m).
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val afterLarge = sym.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .where(col("hi") =!= col("lo")).distinct()
      // small-star on larger→smaller edges: u and all smaller neighbors
      // hook to m(u) = min of the smaller neighborhood
      val mins2 = afterLarge.groupBy("hi").agg(min("lo").as("m"))
      val next = graft.api.Checkpointing.checkpoint(
        afterLarge.join(mins2, "hi")
          .select(col("lo").as("hi"), col("m").as("lo"))
          .union(mins2.select(col("hi"), col("m").as("lo")))
          .where(col("hi") =!= col("lo")).distinct())
      converged = next.except(edges).isEmpty && edges.except(next).isEmpty
      // the fixpoint check was the old frame's final consumer — release
      // its checkpoint blocks now (same hygiene as clustersMinLabel)
      edges.unpersist(blocking = false)
      edges = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"Dedup.clustersStar did not converge after $maxIter rounds — " +
        s"at O(log n) rounds this needs a graph of ~2^$maxIter nodes; raise maxIter")
    // at the fixpoint every edge points straight at its component minimum;
    // nodes with no surviving edge (isolated / component roots) label
    // themselves
    val out = graft.api.Checkpointing.checkpoint(nodes
      .join(edges.select(col("hi").as("id"), col("lo").as("cluster_id")), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id")))
    nodes.unpersist()
    out
  }
}
