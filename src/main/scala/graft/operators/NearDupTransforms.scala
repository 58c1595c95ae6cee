package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig
import graft.dedup.Dedup

/**
 * Near-duplicate REMOVAL as declarative pipeline transforms — the form a
 * training-data pipeline actually runs (find near-dup pairs, drop the
 * higher-id side of each pair, keep the rest). This is the standard greedy
 * edge-drop policy production near-dedup uses in one pass; full transitive
 * clustering (connected components) is deliberately out of scope for a
 * single declarative step — it is iterative and belongs in a driver loop.
 *
 * Makes the LLM-dedup suite ([[graft.dedup.Dedup]]) first-class citizens of
 * the YAML surface:
 *
 * {{{
 * - name: near-dedup
 *   type: dedup_minhash
 *   options: {idColumn: doc_id, textColumn: text, threshold: "0.8"}
 * }}}
 *
 * Scale shape is inherited from Dedup: banded LSH candidates (never
 * all-pairs), exact verification only inside buckets, and the final drop is
 * one broadcast-able left_anti join on the id column.
 */
abstract class NearDupTransform extends Transform {
  protected def pairs(input: DataFrame, id: String, content: String,
                      config: TransformConfig): DataFrame
  /** Option naming the content column the matcher reads — textColumn for
    * the text matchers, vecColumn for the embedding matcher. */
  protected def contentOption: String = "textColumn"
  protected val IdColumn = Opt.column("idColumn").required
  protected val Content = Opt.column(contentOption).required
  private val SurvivorColumn = Opt.column("survivorColumn")
  private val SurvivorOrder = Opt.oneOf("survivorOrder", "max", "min")
  private val Survivor = Opt.oneOf("survivor", "pair", "cluster").default("pair")
  private val ClusterMaxIter = Opt.int("clusterMaxIter").default(20)
  // minlabel (default): O(diameter) rounds; star: O(log n) — for
  // adversarial long duplicate chains
  private val ClusterAlgorithm = Opt.oneOf("clusterAlgorithm", "minlabel", "star")
    .default("minlabel")

  /** The survivor options, refused in an incremental mode: the reference
    * always survives; it is not part of the frame. */
  protected def rejectSurvivorOpts(config: TransformConfig, modeOption: String): Unit =
    Seq(Survivor, SurvivorColumn, SurvivorOrder).filter(_.isSet(config)).foreach { o =>
      throw new ConfigException(
        s"$transformType: ${o.key} does not apply with $modeOption — the " +
          "reference is not part of the frame, so there is no election " +
          "to run")
    }

  def apply(input0: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    // the input is consumed at least twice (the pair engine + the final
    // left_anti keep join; survivor election adds a third read) — in a
    // composed pipeline each consumer would otherwise re-execute the
    // whole upstream tower (measured on q154: dedup_minhash after the
    // html_strip + quality stack cost 1.4 s where its own work is
    // ~0.5 s). The lazy shared checkpoint materializes the frame on
    // first use; every consumer reads the same blocks.
    val input = graft.api.Checkpointing.shared(input0)
    val id = IdColumn(config)
    val content = Content(config)
    // quality-keyed survivor election: `survivorColumn` names a numeric
    // column (a quality score, a token count, a recency stamp) and the
    // BEST-scoring side of each pair/cluster survives instead of the
    // lowest id — what a curation pipeline actually wants ("keep the
    // cleanest copy"). `survivorOrder: max (default) | min`; ties and
    // null scores break deterministically toward the smaller id (null
    // always loses). Costs two slim id-keyed joins against the pair/label
    // frame — the corpus itself never reshuffles.
    val survivorKey: Option[Column => Column] =
      SurvivorColumn.get(config).map { sc =>
        val sign = if (SurvivorOrder.get(config).contains("min")) 1.0 else -1.0
        // lexicographic rank, LOWER wins: (±score with null → +inf, id)
        (idc: Column) => struct(
          coalesce(lit(sign) * col(sc).cast("double"),
            lit(Double.PositiveInfinity)).as("s"),
          idc.as("i"))
      }
    if (survivorKey.isEmpty && SurvivorOrder.isSet(config))
      throw new ConfigException(
        s"$transformType: survivorOrder requires survivorColumn")
    def scores = input.select(col(id).as("__nid"),
      survivorKey.get(col(id)).as("__nkey"))
    val dupPairs = pairs(input, id, content, config)
    val toDrop = Survivor(config) match {
      // pairs carry (id_a < id_b); dropping every id_b keeps every node
      // that is nobody's duplicate-with-a-smaller-id — greedy edge-drop,
      // zero extra passes
      case "pair" => survivorKey match {
        case None => dupPairs.select(col("id_b").as(id)).distinct()
        case Some(_) =>
          // the higher-ranked side of EACH pair loses (same greedy edge
          // policy; id order is just the default rank). The (id, key)
          // frame is consumed TWICE (id_a and id_b joins) and the two
          // branches prune differently, so without lineage truncation the
          // election scans the corpus twice for scores — a lazy shared
          // checkpoint (the tfidf pattern) materializes the slim frame on
          // first use and both joins read the same blocks
          val scored = graft.api.Checkpointing.checkpoint(scores, eager = false)
          dupPairs
            .join(scored.withColumnRenamed("__nid", "__ida")
              .withColumnRenamed("__nkey", "__ka"), col("id_a") === col("__ida"))
            .join(scored.withColumnRenamed("__nid", "__idb")
              .withColumnRenamed("__nkey", "__kb"), col("id_b") === col("__idb"))
            .select(when(col("__ka") > col("__kb"), col("id_a"))
              .otherwise(col("id_b")).as(id))
            .distinct()
      }
      // transitive closure: keep exactly ONE representative (the minimum
      // id, or the survivorColumn winner) per connected component —
      // "a≈b, b≈c" drops both b AND c even though (a,c) never collided.
      // Runs Dedup.clusters' label propagation: O(component diameter)
      // rounds of driver-looped jobs over the node-sized pair graph (an
      // exception to the no-action transform rule, like shard's
      // prefix-sum collect — documented).
      case _ =>
        val labels = graft.dedup.Dedup.clusters(dupPairs,
          maxIter = ClusterMaxIter(config), algorithm = ClusterAlgorithm(config))
        survivorKey match {
          case None =>
            labels.where(col("id") =!= col("cluster_id")).select(col("id").as(id))
          case Some(_) =>
            // (node, cluster, key) is consumed twice (winner agg + final
            // filter join); without truncation each consumer re-joins the
            // corpus-sized score projection against the labels — the lazy
            // checkpoint caps it at one scan, and the frame is pair-graph-
            // node-sized, far smaller than the corpus
            val withKey = graft.api.Checkpointing.checkpoint(
              labels.join(scores, col("id") === col("__nid")), eager = false)
            val keep = withKey.groupBy("cluster_id")
              .agg(min_by(col("id"), col("__nkey")).as("__keep"))
            withKey.join(keep, Seq("cluster_id"))
              .where(col("id") =!= col("__keep")).select(col("id").as(id))
        }
    }
    input.join(toDrop, Seq(id), "left_anti")
  }
}

/** The MinHash LSH knobs `dedup_minhash` and `minhash_signatures` share. */
private[operators] trait MinhashKnobs extends Transform {
  protected val Bands = Opt.int("bands").default(16)
  protected val RowsPerBand = Opt.int("rowsPerBand").default(4)
  protected val ShingleSize = Opt.int("shingleSize").default(3)
}

/** MinHash+LSH near-dup removal: options bands/rowsPerBand/shingleSize/
  * threshold/maxBucketSize (defaults as in [[Dedup.minhashNearDups]]).
  * With `referenceView` (+ optional `referenceIdColumn`/
  * `referenceTextColumn`), switches to INCREMENTAL mode
  * ([[Dedup.minhashNearDupsAgainst]]): drop input rows near-duplicate to
  * the named reference corpus instead of to each other — the fuzzy
  * counterpart of `dedup_against`. With `signatureView` instead, the
  * reference is a PERSISTED signature store (the [[Dedup.minhashSignatures]]
  * layout, typically yesterday's `minhash_signatures` output re-loaded
  * from parquet) — the increment dedups without ever re-scanning the
  * reference corpus's text. `survivor`/`survivorColumn`/`survivorOrder`
  * do not apply in either incremental mode (the reference always
  * survives; it is not part of the frame) and are REJECTED rather than
  * silently ignored. */
object MinhashDedupTransform extends NearDupTransform with MinhashKnobs {
  val transformType = "dedup_minhash"
  private val Threshold = Opt.double("threshold").default(0.5)
  private val MaxBucketSize = Opt.int("maxBucketSize").default(1000)
  // incremental mode: a reference corpus, or a persisted signature store
  private val ReferenceView = Opt.view("referenceView")
  private val SignatureView = Opt.view("signatureView")
  private val ReferenceIdColumn = Opt.string("referenceIdColumn")
  private val ReferenceTextColumn = Opt.string("referenceTextColumn")
  protected def pairs(input: DataFrame, id: String, text: String,
                      config: TransformConfig): DataFrame =
    Dedup.minhashNearDups(input, id, text,
      bands = Bands(config),
      rowsPerBand = RowsPerBand(config),
      shingleSize = ShingleSize(config),
      threshold = Threshold(config),
      maxBucketSize = MaxBucketSize(config))

  override def apply(input: DataFrame, config: TransformConfig,
                     ctx: RunContext): DataFrame =
    (ReferenceView.isSet(config), SignatureView.isSet(config)) match {
      case (false, false) => super.apply(input, config, ctx)
      case (true, true) => throw new graft.api.ConfigException(
        "dedup_minhash: referenceView and signatureView are mutually " +
          "exclusive — the reference is either a text corpus or a " +
          "precomputed signature store, not both")
      case (byCorpus, _) =>
        // the two incremental modes share everything but the hits call.
        // survivor options don't apply (the reference always survives; it
        // is not part of the frame) — reject them loudly rather than
        // silently ignoring a user's election intent
        rejectSurvivorOpts(config, "referenceView/signatureView")
        val id = IdColumn(config)
        val text = Content(config)
        val bands = Bands(config)
        val rowsPerBand = RowsPerBand(config)
        val shingleSize = ShingleSize(config)
        val threshold = Threshold(config)
        val maxBucketSize = MaxBucketSize(config)
        // multi-consumer branch (signature pass + keep join): stage once
        // so a composed upstream tower executes once, not per consumer
        val staged = graft.api.Checkpointing.shared(input)
        val hits =
          if (byCorpus) Dedup.minhashNearDupsAgainst(
            staged, ReferenceView.table(config, ctx.spark), id, text,
            ReferenceIdColumn.get(config).getOrElse(id),
            ReferenceTextColumn.get(config).getOrElse(text),
            bands, rowsPerBand, shingleSize, threshold, maxBucketSize)
          else Dedup.minhashNearDupsAgainstSignatures(
            staged, SignatureView.table(config, ctx.spark), id, text,
            bands, rowsPerBand, shingleSize, threshold, maxBucketSize)
        staged.join(hits.select(col("id").as(id)).distinct(), Seq(id), "left_anti")
    }
}

/** Producer half of the persisted-signature loop: projects the input
  * corpus to the [[Dedup.minhashSignatures]] store layout (doc_id, sh,
  * sig, mh_* parameter columns) for a file sink to persist. Run it at the
  * end of corpus build N; run N+1 loads the parquet, registers it as a
  * view, and passes it to `dedup_minhash` via `signatureView` — the
  * increment then dedups against history without re-scanning history's
  * text. Options: idColumn/textColumn required; bands (16),
  * rowsPerBand (4), shingleSize (3). Zero-shuffle projection. */
object MinhashSignaturesTransform extends MinhashKnobs {
  val transformType = "minhash_signatures"
  private val IdColumn = Opt.column("idColumn").required
  private val TextColumn = Opt.column("textColumn").required
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    Dedup.minhashSignatures(input, IdColumn(config), TextColumn(config),
      bands = Bands(config),
      rowsPerBand = RowsPerBand(config),
      shingleSize = ShingleSize(config))
  }
}

/** SimHash near-dup removal: options maxHamming (default 3),
  * maxBucketSize (default 10000 — caps 16-bit-chunk blocking buckets). */
object SimhashDedupTransform extends NearDupTransform with HammingKnobs {
  val transformType = "dedup_simhash"
  protected def pairs(input: DataFrame, id: String, text: String,
                      config: TransformConfig): DataFrame =
    Dedup.simhashNearDups(input, id, text,
      maxHamming = MaxHamming(config),
      maxBucketSize = MaxBucketSize(config))
}

/** The hamming-engine knobs of the SimHash and media dedup family, and
  * the media family's `signatureView` (incremental) mode — the
  * [[MinhashDedupTransform]] discipline: the reference is a PERSISTED
  * [[graft.multimodal.Multimodal.mediaSignatures]] store (typically
  * yesterday's `media_signatures` output re-loaded from parquet), so the
  * increment dedups against history without re-parsing a single
  * historical container. */
private[operators] trait HammingKnobs extends Transform {
  protected val MaxHamming = Opt.int("maxHamming").default(3)
  protected val MaxBucketSize = Opt.int("maxBucketSize").default(10000)
}
private[operators] trait MediaSigIncrement extends NearDupTransform with HammingKnobs {
  override protected def contentOption: String = "bytesColumn"
  protected val SignatureView = Opt.view("signatureView")
  protected def modality(config: TransformConfig): String
  protected def tag: String

  protected def media(input: DataFrame, id: String, bytesCol: String,
                      config: TransformConfig): DataFrame =
    graft.multimodal.Multimodal.asMediaFrame(
      input, id, bytesCol, modality = modality(config), sourceUriCol = id)

  /** Each payload's (doc_id, sig): the frame-0 dHash, or audio's aHash. */
  protected def stills(media: DataFrame): DataFrame =
    graft.multimodal.Multimodal.imageHashes(media)
      .select(col("media_id").as("doc_id"), col("dhash").as("sig"))

  protected def pairs(input: DataFrame, id: String, bytesCol: String,
                      config: TransformConfig): DataFrame =
    Dedup.hammingNearDups(stills(media(input, id, bytesCol, config)),
      maxHamming = MaxHamming(config), maxBucketSize = MaxBucketSize(config), tag = tag)

  /** The incremental hits (id, ref_id) of `media` against a persisted
    * store. A video store's `sig` is the TEMPORAL hash, so a still pairs
    * with its frame-0 spatial `sig2`. */
  protected def hits(media: DataFrame, store: DataFrame, config: TransformConfig): DataFrame =
    Dedup.hammingNearDupsAgainstSignatures(stills(media),
      store.select(col("doc_id"), col(if (modality(config) == "video") "sig2" else "sig").as("sig")),
      maxHamming = MaxHamming(config), maxBucketSize = MaxBucketSize(config), tag = tag)

  /** With `signatureView`: INCREMENTAL mode against a persisted
    * [[graft.multimodal.Multimodal.mediaSignatures]] store — drop input
    * payloads near-duplicate to any stored signature, without re-parsing
    * history. */
  override def apply(input: DataFrame, config: TransformConfig,
                     ctx: RunContext): DataFrame =
    SignatureView.tableIfSet(config, ctx.spark) match {
      case None => super.apply(input, config, ctx)
      case Some(view) =>
        rejectSurvivorOpts(config, "signatureView")
        val id = IdColumn(config)
        // two consumers (decode pass + keep join): stage once
        val staged = graft.api.Checkpointing.shared(input)
        val found = hits(media(staged, id, Content(config), config),
          graft.multimodal.Multimodal.loadMediaSignatures(view, modality(config)), config)
        staged.join(found.select(col("id").as(id)).distinct(), Seq(id), "left_anti")
    }
}

/** Perceptual IMAGE near-dup removal over a binary media column: each
  * payload's representative still (image / animated-GIF frame 0 composite /
  * MJPEG-AVI frame 0) reduces to a 64-bit dHash
  * ([[graft.multimodal.Multimodal.dHash64]] — horizontal luma-gradient
  * signs, robust to re-encoding, mild rescales and brightness shifts),
  * and candidates block through the SAME pigeonhole hamming engine as
  * text SimHash ([[graft.dedup.Dedup.hammingNearDups]] — guaranteed
  * recall within the budget, mega-buckets capped). Options: idColumn +
  * bytesColumn (required; the id must cast to a non-null long — the
  * media-frame contract), modality image|video (default image),
  * maxHamming (default 3), maxBucketSize (default 10000), plus the
  * shared survivor/survivorColumn election. Undecodable payloads hash
  * NULL and never pair (they are kept — dropping what we cannot read is
  * a quality gate's decision, not dedup's). Scale shape: only the slim
  * (id, dhash) frame ever shuffles; media bytes stay in their scan. */
object ImageDedupTransform extends MediaSigIncrement {
  val transformType = "dedup_image"
  protected val tag = "image"
  // the modalities with a visual still to hash
  private val Modality = Opt.oneOfIgnoringCase("modality", "image", "video").default("image")
  protected def modality(config: TransformConfig): String = Modality(config)
}

/** Perceptual AUDIO near-dup removal over a binary media column: each
  * PCM16 payload (WAV/AIFF/AU) reduces to a 64-bit aHash
  * ([[graft.multimodal.Multimodal.aHash64]] — envelope-gradient signs
  * over 65 equal time windows, invariant to any positive gain change
  * and robust to mild re-encoding), blocked through the same
  * guaranteed-recall hamming engine as text SimHash and image dHash.
  * Options: idColumn + bytesColumn (required; long-castable id),
  * maxHamming (default 3), maxBucketSize (default 10000), plus the
  * shared survivor election. Unparseable payloads hash NULL and are
  * kept. Only the slim (id, hash) frame shuffles. */
object AudioDedupTransform extends MediaSigIncrement {
  val transformType = "dedup_audio"
  protected val tag = "audio"
  protected def modality(config: TransformConfig): String = "audio"
}

/** Perceptual VIDEO near-dup removal over a binary media column — the
  * two-hash screening a crawl-video pipeline needs: each MJPEG-AVI
  * payload reduces to a ([[graft.multimodal.Multimodal.tHash64]]
  * temporal luma-trajectory hash, [[graft.multimodal.Multimodal.dHash64]]
  * spatial frame-0 hash) signature pair, candidates block through the
  * guaranteed-recall pigeonhole hamming engine on the TEMPORAL hash
  * (spatial-only screening pairs clips that merely share a first frame),
  * and each candidate pair must ALSO agree spatially (temporal-only
  * screening pairs different clips with the same brightness drift).
  * Options: idColumn + bytesColumn (required; long-castable id),
  * maxHamming (temporal budget, default 3), maxSpatialHamming (confirm
  * budget, default = maxHamming), maxBucketSize (default 10000), plus
  * the shared survivor election. Payloads missing either hash
  * (unparseable container, undecodable frame) never pair and are kept.
  * Scale shape: the expensive stage is the signature pass —
  * O(min(frames, TemporalHashMaxFrames)) JPEG decodes per payload,
  * computed ONCE behind a lazy checkpoint (three consumers: the blocking
  * frame and both sides of the spatial-confirm join would otherwise each
  * re-decode the corpus); only the slim (id, thash, dhash) frame ever
  * shuffles, and the confirm joins are id-keyed against the near-dup-
  * sized pair frame. */
object VideoDedupTransform extends MediaSigIncrement {
  val transformType = "dedup_video"
  // the spatial confirm budget: bits of the 64-bit frame-0 dHash two
  // clips may differ by (default maxHamming)
  private val MaxSpatialHamming = Opt.int("maxSpatialHamming", min = 0, max = 64)
  protected val tag = "video"
  protected def modality(config: TransformConfig): String = "video"
  override protected def pairs(input: DataFrame, id: String, bytesCol: String,
                               config: TransformConfig): DataFrame = {
    val maxTemporal = MaxHamming(config)
    // hammingNearDups validates the temporal budget; the spatial confirm
    // must be just as loud — a negative budget would silently make
    // bit_count(xor) <= k false for EVERY pair (no dedup at all)
    val maxSpatial = MaxSpatialHamming.get(config).getOrElse(maxTemporal)
    val hashes = graft.api.Checkpointing.checkpoint(
      graft.multimodal.Multimodal.videoHashes(media(input, id, bytesCol, config)), eager = false)
    val temporalPairs = Dedup.hammingNearDups(
      hashes.select(col("media_id").as("doc_id"), col("thash").as("sig")),
      maxHamming = maxTemporal,
      maxBucketSize = MaxBucketSize(config),
      tag = "video")
    val spatial = hashes.where(col("dhash").isNotNull)
    temporalPairs
      .join(spatial.select(col("media_id").as("id_a"), col("dhash").as("__sa")),
        Seq("id_a"))
      .join(spatial.select(col("media_id").as("id_b"), col("dhash").as("__sb")),
        Seq("id_b"))
      .where(bit_count(col("__sa").bitwiseXOR(col("__sb"))) <= maxSpatial)
      .select("id_a", "id_b", "hamming")
  }

  /** INCREMENTAL mode's hits: input clips' temporal tHashes block against
    * the store's `sig`, and each hit confirms spatially (input frame-0
    * dHash vs store `sig2`), without re-decoding a frame of history. */
  override protected def hits(media: DataFrame, store: DataFrame,
                              config: TransformConfig): DataFrame = {
    val maxTemporal = MaxHamming(config)
    val maxSpatial = MaxSpatialHamming.get(config).getOrElse(maxTemporal)
    // ONE parse per input payload serves the temporal block and the
    // spatial confirm (the self-join mode's lazy-checkpoint shape)
    val hashes = graft.api.Checkpointing.checkpoint(
      graft.multimodal.Multimodal.videoHashes(media), eager = false)
    Dedup.hammingNearDupsAgainstSignatures(
      hashes.select(col("media_id").as("doc_id"), col("thash").as("sig")),
      store.select("doc_id", "sig"),
      maxHamming = maxTemporal, maxBucketSize = MaxBucketSize(config), tag = tag)
      .join(hashes.where(col("dhash").isNotNull)
        .select(col("media_id").as("id"), col("dhash").as("__sa")), Seq("id"))
      .join(store.where(col("sig2").isNotNull)
        .select(col("doc_id").as("ref_id"), col("sig2").as("__sb")), Seq("ref_id"))
      .where(bit_count(col("__sa").bitwiseXOR(col("__sb"))) <= maxSpatial)
  }
}

/** Producer half of the persisted media-signature loop
  * ([[MinhashSignaturesTransform]] for media): projects a binary media
  * column to the [[graft.multimodal.Multimodal.mediaSignatures]] store
  * layout — (doc_id, modality, sig, sig2, ms_version), where `sig` is
  * the modality's blocking hash (image dHash / audio aHash / video
  * temporal tHash) and `sig2` video's frame-0 spatial confirm hash —
  * for a file sink to persist. Run it at the end of corpus build N; run
  * N+1 loads the parquet, registers it as a view, and passes it to
  * `dedup_image`/`dedup_audio`/`dedup_video` via `signatureView`: the
  * increment then dedups against history without re-parsing a single
  * historical container. Options: idColumn/bytesColumn required;
  * modality image|audio|video (default image). ONE parse per payload;
  * output REPLACES the frame. */
object MediaSignaturesTransform extends Transform {
  val transformType = "media_signatures"
  private val IdColumn = Opt.column("idColumn").required
  private val BytesColumn = Opt.column("bytesColumn").required
  private val Modality = Opt.oneOfIgnoringCase("modality", "image", "audio", "video").default("image")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    graft.multimodal.Multimodal.mediaSignatures(
      graft.multimodal.Multimodal.asMediaFrame(
        input, IdColumn(config), BytesColumn(config),
        modality = Modality(config), sourceUriCol = IdColumn(config)))
}

/** Embedding-cosine near-dup removal over an Array[Float] vector column:
  * options vecColumn (required), threshold/bits/tables/maxBucketSize
  * (defaults as in [[graft.ann.Ann.cosineNearDups]]). Inherits the
  * hyperplane-LSH bucketed shape: buckets are computed once into a slim
  * (table_id, bucket, doc_id) frame, mega-buckets are capped, and exact
  * cosine runs only on surviving candidate pairs.
  *
  * With `referenceView` (+ optional `referenceIdColumn`/
  * `referenceVecColumn`): INCREMENTAL mode
  * ([[graft.ann.Ann.cosineNearDupsAgainst]]) — drop input rows whose
  * embedding is cosine-≥-threshold close to ANY reference row, the
  * embedding-space `dedup_against`: today's increment dedups against
  * yesterday's corpus without re-pairing history (both sides bucket
  * through the same deterministic hyperplanes; identical vectors always
  * collide). Survivor options are rejected in incremental mode — the
  * reference always survives; it is not part of the frame. */
/** The embedding dedup family's `threshold` and its `referenceView`
  * (incremental) mode, with the reference's id and vector columns. */
private[operators] trait EmbeddingIncrement extends NearDupTransform {
  override protected def contentOption: String = "vecColumn"
  protected val Threshold = Opt.double("threshold").default(0.9)
  protected val ReferenceView = Opt.view("referenceView")
  protected val ReferenceIdColumn = Opt.string("referenceIdColumn")
  protected val ReferenceVecColumn = Opt.string("referenceVecColumn")
}

object EmbeddingDedupTransform extends EmbeddingIncrement {
  val transformType = "dedup_embedding"
  private val Bits = Opt.int("bits").default(8)
  private val Tables = Opt.int("tables").default(4)
  private val MaxBucketSize = Opt.int("maxBucketSize").default(1000)
  protected def pairs(input: DataFrame, id: String, vec: String,
                      config: TransformConfig): DataFrame =
    graft.ann.Ann.cosineNearDups(input, id, vec,
      threshold = Threshold(config),
      bits = Bits(config),
      tables = Tables(config),
      maxBucketSize = MaxBucketSize(config))

  override def apply(input: DataFrame, config: TransformConfig,
                     ctx: RunContext): DataFrame =
    ReferenceView.tableIfSet(config, ctx.spark) match {
      case None => super.apply(input, config, ctx)
      case Some(view) =>
        rejectSurvivorOpts(config, "referenceView")
        val id = IdColumn(config)
        val vec = Content(config)
        // stage once: this branch consumes `input` three times (bucket
        // assignment, the vector re-join inside the Against call, and the
        // final keep join) — without truncation a composed upstream tower
        // re-executes per consumer (the q154 lesson)
        val staged = graft.api.Checkpointing.shared(input)
        val hits = graft.ann.Ann.cosineNearDupsAgainst(
          staged, view, id, vec,
          ReferenceIdColumn.get(config).getOrElse(id),
          ReferenceVecColumn.get(config).getOrElse(vec),
          threshold = Threshold(config),
          bits = Bits(config),
          tables = Tables(config),
          maxBucketSize = MaxBucketSize(config))
        staged.join(hits.select(col("id").as(id)).distinct(), Seq(id), "left_anti")
    }
}

/** SemDeDup-style semantic near-dup removal (spherical k-means cells +
  * exact in-cell cosine, [[graft.ann.Ann.semanticNearDups]]): options
  * vecColumn (required), threshold (0.9), nClusters (64), kmeansIters (3),
  * maxClusterSize (1000). Catches the paraphrase duplicates hyperplane-LSH
  * bucketing (`dedup_embedding`) hashes apart; shares the capped-block
  * scale shape (slim assignment frame, no vectors in the self-join, no
  * uncapped cells). The k-means codebook adds O(nClusters·dim) driver
  * state and ONE bounded sampling pass at plan time (Lloyd rounds run
  * driver-local over the hash-sample — no per-round corpus scans) — a
  * documented exception to the no-action transform rule, like
  * survivor=cluster. */
object SemanticDedupTransform extends EmbeddingIncrement {
  val transformType = "dedup_semantic"
  // trained-cell knobs; with codebookView, stamps the store must match
  private val NClusters = Opt.int("nClusters")
  private val KmeansIters = Opt.int("kmeansIters")
  private val MaxClusterSize = Opt.int("maxClusterSize").default(1000)
  private val CodebookView = Opt.view("codebookView")

  /** `codebookView` reuses a persisted `codebook` store (the
    * cluster_embeddings loop): no sampling scan, stable cells across
    * runs, stamp mismatches fail fast via loadCodebook. */
  private def storedCodebook(config: TransformConfig,
                             spark: org.apache.spark.sql.SparkSession)
      : Option[Array[Array[Float]]] =
    CodebookView.tableIfSet(config, spark).map { store =>
      graft.ann.Ann.loadCodebook(store, NClusters.get(config), KmeansIters.get(config))
    }

  protected def pairs(input: DataFrame, id: String, vec: String,
                      config: TransformConfig): DataFrame =
    graft.ann.Ann.semanticNearDups(input, id, vec,
      threshold = Threshold(config),
      nClusters = NClusters.get(config).getOrElse(64),
      kmeansIters = KmeansIters.get(config).getOrElse(3),
      maxClusterSize = MaxClusterSize(config),
      codebook = storedCodebook(config, input.sparkSession))

  /** With `referenceView` (+ optional `referenceIdColumn`/
    * `referenceVecColumn`): INCREMENTAL mode
    * ([[graft.ann.Ann.semanticNearDupsAgainst]]) — drop input rows
    * semantically duplicate (same cell, cosine ≥ threshold) to ANY
    * reference row. One codebook assigns both sides — from the
    * `codebookView` store when given (preferred at scale: no sampling
    * scan, cells comparable across runs), else trained on the reference.
    * Survivor options are rejected in incremental mode. */
  override def apply(input: DataFrame, config: TransformConfig,
                     ctx: RunContext): DataFrame =
    ReferenceView.tableIfSet(config, ctx.spark) match {
      case None => super.apply(input, config, ctx)
      case Some(view) =>
        rejectSurvivorOpts(config, "referenceView")
        val id = IdColumn(config)
        val vec = Content(config)
        // multi-consumer branch: stage once (see EmbeddingDedupTransform)
        val staged = graft.api.Checkpointing.shared(input)
        val hits = graft.ann.Ann.semanticNearDupsAgainst(
          staged, view, id, vec,
          ReferenceIdColumn.get(config).getOrElse(id),
          ReferenceVecColumn.get(config).getOrElse(vec),
          threshold = Threshold(config),
          nClusters = NClusters.get(config).getOrElse(64),
          kmeansIters = KmeansIters.get(config).getOrElse(3),
          maxClusterSize = MaxClusterSize(config),
          codebook = storedCodebook(config, ctx.spark))
        staged.join(hits.select(col("id").as(id)).distinct(), Seq(id), "left_anti")
    }
}

/**
 * Embedding-based benchmark decontamination: drop every input row whose
 * embedding is cosine-≥-threshold close to ANY reference (eval-set)
 * embedding — the semantic complement to the n-gram `decontaminate`
 * (paraphrased contamination survives shingle matching; it does not
 * survive embedding similarity).
 *
 * {{{
 * - name: decontaminate-semantic
 *   type: decontaminate_embedding
 *   options: {idColumn: doc_id, vecColumn: embedding,
 *             benchDataset: eval_vectors, threshold: "0.95"}
 * }}}
 *
 * Options: idColumn/vecColumn/benchDataset required; benchIdColumn
 * (default = idColumn), benchVecColumn (default = vecColumn), threshold
 * (0.95). Scale shape: the eval side broadcasts ([[graft.ann.Ann
 * .crossMatches]] — exact, zero corpus shuffle), hit ids reduce to a
 * broadcast-able left_anti.
 */
object EmbeddingDecontaminateTransform extends IdVecColumns {
  val transformType = "decontaminate_embedding"
  private val BenchDataset = Opt.view("benchDataset").required
  private val BenchIdColumn = Opt.string("benchIdColumn")
  private val BenchVecColumn = Opt.string("benchVecColumn")
  private val Threshold = Opt.double("threshold").default(0.95)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val id = IdColumn(config)
    val vec = VecColumn(config)
    val bench = BenchDataset.table(config, ctx.spark)
    val benchId = BenchIdColumn.get(config).getOrElse(id)
    val benchVec = BenchVecColumn.get(config).getOrElse(vec)
    val threshold = Threshold(config)
    val hits = graft.ann.Ann.crossMatches(input, bench, id, benchId, vec, benchVec)
      .where(col("sim") >= threshold)
      .select(col(id)).distinct()
    input.join(hits, Seq(id), "left_anti")
  }
}

/**
 * `dedup_against` — incremental exact dedup: drop rows whose normalized
 * text already exists in a reference corpus (named view) — dedup today's
 * crawl increment against yesterday's corpus without rescanning history.
 * Backed by [[graft.dedup.Dedup.exactAgainst]] (reference reduces to a
 * DISTINCT 32-byte hash frame; slim anti-join).
 *
 * {{{
 * - name: drop-already-ingested
 *   type: dedup_against
 *   options: {textColumn: text, referenceView: corpus_so_far}
 * }}}
 *
 * Options: textColumn/referenceView required; referenceTextColumn
 * (default = textColumn).
 */
object DedupAgainstTransform extends Transform {
  val transformType = "dedup_against"
  private val TextColumn = Opt.column("textColumn").required
  private val ReferenceView = Opt.view("referenceView").required
  private val ReferenceTextColumn = Opt.string("referenceTextColumn")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val text = TextColumn(config)
    Dedup.exactAgainst(input, text, ReferenceView.table(config, ctx.spark),
      ReferenceTextColumn.get(config).getOrElse(text))
  }
}

/** Benchmark decontamination as a declarative pipeline step: drop every
  * input document sharing any word `shingleSize`-gram with a benchmark/eval
  * dataset (registered as a named view, same resolution as join's
  * `rightDataset`). Backed by [[Dedup.contaminationHits]] — the benchmark
  * side reduces to a broadcast DISTINCT shingle-hash frame, so the corpus
  * is never shuffled; the final drop is a broadcast-able left_anti on ids.
  *
  * {{{
  * - name: decontaminate
  *   type: decontaminate
  *   options: {idColumn: doc_id, textColumn: text, benchDataset: eval_set}
  * }}}
  *
  * Options: idColumn/textColumn/benchDataset required; benchTextColumn
  * (default = textColumn), shingleSize (default 3). */
object DecontaminateTransform extends Transform {
  val transformType = "decontaminate"
  private val IdColumn = Opt.column("idColumn").required
  private val TextColumn = Opt.column("textColumn").required
  private val BenchDataset = Opt.view("benchDataset").required
  private val BenchTextColumn = Opt.string("benchTextColumn")
  private val ShingleSize = Opt.int("shingleSize").default(3)
  private val Method = Opt.oneOf("method", "exact", "bloom").default("exact")
  // method: bloom only
  private val Fpp = Opt.double("fpp").default(1e-4)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val id = IdColumn(config)
    val text = TextColumn(config)
    val bench = BenchDataset.table(config, ctx.spark)
    val benchText = BenchTextColumn.get(config).getOrElse(text)
    val n = ShingleSize(config)
    // fpp only parameterizes the bloom sketch; with method=exact it is a
    // misconfiguration (the user likely meant method: bloom) — reject it
    // like the other inapplicable-option guards in this file
    if (Method(config) != "bloom" && Fpp.isSet(config))
      throw new ConfigException(
        "decontaminate: fpp only applies with method: bloom — " +
          "the exact path has no false-positive rate to configure")
    Method(config) match {
      case "exact" =>
        // the id anti-join never equi-matches null, so contaminated
        // null-id docs used to leak through this gate (while method=bloom,
        // a per-row filter, dropped them). Null-id rows are checked per
        // row against the same benchmark shingle set gathered into one
        // broadcast array — the eval set is broadcast-sized by this
        // path's contract.
        // the null-id branch stages __bsh on the input frame — guard the
        // fixed helper name like every other helper-column operator
        graft.config.ExprUtils.requireNoHelperCollision(
          "decontaminate", input.columns, "__bsh")
        // the null-id branch's broadcast side (every distinct bench shingle
        // hash gathered into ONE array row) is built at execution time —
        // when the schema proves the id column can never be null, skip the
        // whole subplan instead of paying the bench aggregation + broadcast
        // (and the single-row array-size exposure) on every run
        val idNullable = input.schema.fields
          .find(f => ctx.spark.sessionState.analyzer.resolver(f.name, id))
          .forall(_.nullable)
        if (!idNullable) {
          val hits = Dedup.contaminationHits(input, bench, id, text, benchText, n)
          input.join(hits.select(col(id)), Seq(id), "left_anti")
        } else {
        val nonNull = input.where(col(id).isNotNull)
        val hits = Dedup.contaminationHits(nonNull, bench, id, text, benchText, n)
        val kept = nonNull.join(hits.select(col(id)), Seq(id), "left_anti")
        val benchArr = bench.select(explode(
            graft.functions.expressions.ShingleHashes(col(benchText), n)).as("__sh"))
          .distinct().agg(collect_list(col("__sh")).as("__bsh"))
        val keptNull = input.where(col(id).isNull)
          .crossJoin(broadcast(benchArr))
          // null text has no shingles → clean (coalesce keeps it)
          .where(coalesce(size(array_intersect(
            graft.functions.expressions.ShingleHashes(col(text), n),
            col("__bsh"))), lit(0)) === 0)
          .drop("__bsh")
        kept.unionByName(keptNull)
        }
      // fixed-size bloom sketch instead of the exact broadcast set — for
      // benchmark suites too large to broadcast; false positives only drop
      // clean docs (never keep contaminated ones). Builds the sketch at
      // plan time (two jobs on the SMALL side — a documented exception to
      // the no-action transform rule, like survivor=cluster).
      case _ =>
        Dedup.bloomDecontaminate(input, bench, text, benchText, n,
          fpp = Fpp(config))
    }
  }
}
