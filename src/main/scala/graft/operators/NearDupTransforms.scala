package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{Transform, RunContext, ConfigException}
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

  // a typo'd column should fail at plan-time validation with a guided
  // message, like every graft.dedup transform — not at apply with a raw
  // UNRESOLVED_COLUMN AnalysisException
  override def validate(config: TransformConfig,
                        schema: org.apache.spark.sql.types.StructType): List[String] =
    Validate.columnsExist(schema,
      config.options.get("idColumn").toSeq ++
        config.options.get(contentOption).toSeq ++
        config.options.get("survivorColumn").toSeq,
      transformType)

  def apply(input0: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idColumn", contentOption)
    // the input is consumed at least twice (the pair engine + the final
    // left_anti keep join; survivor election adds a third read) — in a
    // composed pipeline each consumer would otherwise re-execute the
    // whole upstream tower (measured on q154: dedup_minhash after the
    // html_strip + quality stack cost 1.4 s where its own work is
    // ~0.5 s). The lazy shared checkpoint materializes the frame on
    // first use; every consumer reads the same blocks.
    val input = graft.api.Checkpointing.shared(input0)
    val id = config.options("idColumn")
    val content = config.options(contentOption)
    // quality-keyed survivor election: `survivorColumn` names a numeric
    // column (a quality score, a token count, a recency stamp) and the
    // BEST-scoring side of each pair/cluster survives instead of the
    // lowest id — what a curation pipeline actually wants ("keep the
    // cleanest copy"). `survivorOrder: max (default) | min`; ties and
    // null scores break deterministically toward the smaller id (null
    // always loses). Costs two slim id-keyed joins against the pair/label
    // frame — the corpus itself never reshuffles.
    val survivorKey: Option[Column => Column] =
      config.options.get("survivorColumn").map { sc =>
        if (!input.columns.contains(sc)) throw new ConfigException(
          s"$transformType: survivorColumn '$sc' not found in input")
        val sign = config.options.getOrElse("survivorOrder", "max") match {
          case "max" => -1.0
          case "min" => 1.0
          case other => throw new ConfigException(
            s"$transformType: survivorOrder must be max|min, got '$other'")
        }
        // lexicographic rank, LOWER wins: (±score with null → +inf, id)
        (idc: Column) => struct(
          coalesce(lit(sign) * col(sc).cast("double"),
            lit(Double.PositiveInfinity)).as("s"),
          idc.as("i"))
      }
    if (survivorKey.isEmpty && config.options.contains("survivorOrder"))
      throw new ConfigException(
        s"$transformType: survivorOrder requires survivorColumn")
    def scores = input.select(col(id).as("__nid"),
      survivorKey.get(col(id)).as("__nkey"))
    val dupPairs = pairs(input, id, content, config)
    val toDrop = config.options.getOrElse("survivor", "pair") match {
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
      case "cluster" =>
        val labels = graft.dedup.Dedup.clusters(dupPairs,
          maxIter = intOpt(config, "clusterMaxIter", 20),
          // minlabel (default): O(diameter) rounds; star: O(log n) —
          // for adversarial long duplicate chains
          algorithm = config.options.getOrElse("clusterAlgorithm", "minlabel"))
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
      case other => throw new graft.api.ConfigException(
        s"$transformType: survivor must be pair|cluster, got '$other'")
    }
    input.join(toDrop, Seq(id), "left_anti")
  }

  // guided errors for non-numeric options, not a context-free
  // NumberFormatException from deep inside the matcher
  protected def intOpt(config: TransformConfig, key: String, dflt: Int): Int =
    intOption(config, key, dflt)
  protected def doubleOpt(config: TransformConfig, key: String, dflt: Double): Double =
    config.options.get(key).map { v =>
      try v.toDouble catch { case _: NumberFormatException =>
        throw new ConfigException(s"$transformType: $key must be a number, got '$v'") }
    }.getOrElse(dflt)
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
object MinhashDedupTransform extends NearDupTransform {
  val transformType = "dedup_minhash"
  protected def pairs(input: DataFrame, id: String, text: String,
                      config: TransformConfig): DataFrame =
    Dedup.minhashNearDups(input, id, text,
      bands = intOpt(config, "bands", 16),
      rowsPerBand = intOpt(config, "rowsPerBand", 4),
      shingleSize = intOpt(config, "shingleSize", 3),
      threshold = doubleOpt(config, "threshold", 0.5),
      maxBucketSize = intOpt(config, "maxBucketSize", 1000))

  override def apply(input: DataFrame, config: TransformConfig,
                     ctx: RunContext): DataFrame =
    (config.options.get("referenceView"), config.options.get("signatureView")) match {
      case (None, None) => super.apply(input, config, ctx)
      case (Some(_), Some(_)) => throw new graft.api.ConfigException(
        "dedup_minhash: referenceView and signatureView are mutually " +
          "exclusive — the reference is either a text corpus or a " +
          "precomputed signature store, not both")
      case (refView, sigView) =>
        // the two incremental modes share everything but the hits call.
        // survivor options don't apply (the reference always survives; it
        // is not part of the frame) — reject them loudly rather than
        // silently ignoring a user's election intent
        Seq("survivor", "survivorColumn", "survivorOrder")
          .filter(config.options.contains).foreach { opt =>
            throw new graft.api.ConfigException(
              s"$transformType: $opt does not apply with " +
                "referenceView/signatureView — the reference is not part " +
                "of the frame, so there is no election to run")
          }
        required(config, "idColumn", "textColumn")
        val id = config.options("idColumn")
        val text = config.options("textColumn")
        val bands = intOpt(config, "bands", 16)
        val rowsPerBand = intOpt(config, "rowsPerBand", 4)
        val shingleSize = intOpt(config, "shingleSize", 3)
        val threshold = doubleOpt(config, "threshold", 0.5)
        val maxBucketSize = intOpt(config, "maxBucketSize", 1000)
        // multi-consumer branch (signature pass + keep join): stage once
        // so a composed upstream tower executes once, not per consumer
        val staged = graft.api.Checkpointing.shared(input)
        val hits = (refView, sigView) match {
          case (Some(view), None) => Dedup.minhashNearDupsAgainst(
            staged, ctx.spark.table(view), id, text,
            config.options.getOrElse("referenceIdColumn", id),
            config.options.getOrElse("referenceTextColumn", text),
            bands, rowsPerBand, shingleSize, threshold, maxBucketSize)
          case (None, Some(view)) => Dedup.minhashNearDupsAgainstSignatures(
            staged, ctx.spark.table(view), id, text,
            bands, rowsPerBand, shingleSize, threshold, maxBucketSize)
          case _ => throw new IllegalStateException("unreachable")
        }
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
object MinhashSignaturesTransform extends Transform {
  val transformType = "minhash_signatures"
  override def validate(config: TransformConfig,
                        schema: org.apache.spark.sql.types.StructType): List[String] =
    Validate.columnsExist(schema,
      config.options.get("idColumn").toSeq ++ config.options.get("textColumn").toSeq,
      transformType)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idColumn", "textColumn")
    Dedup.minhashSignatures(input,
      config.options("idColumn"), config.options("textColumn"),
      bands = config.options.get("bands").map(_.toInt).getOrElse(16),
      rowsPerBand = config.options.get("rowsPerBand").map(_.toInt).getOrElse(4),
      shingleSize = config.options.get("shingleSize").map(_.toInt).getOrElse(3))
  }
}

/** SimHash near-dup removal: options maxHamming (default 3),
  * maxBucketSize (default 10000 — caps 16-bit-chunk blocking buckets). */
object SimhashDedupTransform extends NearDupTransform {
  val transformType = "dedup_simhash"
  protected def pairs(input: DataFrame, id: String, text: String,
                      config: TransformConfig): DataFrame =
    Dedup.simhashNearDups(input, id, text,
      maxHamming = intOpt(config, "maxHamming", 3),
      maxBucketSize = intOpt(config, "maxBucketSize", 10000))
}

/** Shared plumbing for the media dedup family's `signatureView`
  * (incremental) mode — the [[MinhashDedupTransform]] discipline: the
  * reference is a PERSISTED [[graft.multimodal.Multimodal.mediaSignatures]]
  * store (typically yesterday's `media_signatures` output re-loaded from
  * parquet), so the increment dedups against history without re-parsing
  * a single historical container. Survivor options are rejected (the
  * reference always survives; it is not part of the frame). */
private[operators] object MediaSigIncrement {
  def rejectSurvivorOpts(transformType: String, config: TransformConfig,
                         modeOption: String = "signatureView"): Unit =
    Seq("survivor", "survivorColumn", "survivorOrder")
      .filter(config.options.contains).foreach { opt =>
        throw new ConfigException(
          s"$transformType: $opt does not apply with $modeOption — the " +
            "reference is not part of the frame, so there is no election " +
            "to run")
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
object ImageDedupTransform extends NearDupTransform {
  val transformType = "dedup_image"
  override protected def contentOption: String = "bytesColumn"

  private def checkedModality(config: TransformConfig): String = {
    val modality = config.options.getOrElse("modality", "image")
      .toLowerCase(java.util.Locale.ROOT)
    if (modality != "image" && modality != "video")
      throw new ConfigException(
        s"$transformType: modality must be image|video (the modalities " +
          s"with a visual still to hash), got '${config.options("modality")}'")
    modality
  }

  protected def pairs(input: DataFrame, id: String, bytesCol: String,
                      config: TransformConfig): DataFrame = {
    val media = graft.multimodal.Multimodal.asMediaFrame(
      input, id, bytesCol, modality = checkedModality(config), sourceUriCol = id)
    Dedup.hammingNearDups(
      graft.multimodal.Multimodal.imageHashes(media)
        .withColumnRenamed("media_id", "doc_id")
        .withColumnRenamed("dhash", "sig"),
      maxHamming = intOpt(config, "maxHamming", 3),
      maxBucketSize = intOpt(config, "maxBucketSize", 10000),
      tag = "image")
  }

  /** With `signatureView`: INCREMENTAL mode against a persisted
    * [[graft.multimodal.Multimodal.mediaSignatures]] store — drop input
    * payloads whose frame-0 dHash is within maxHamming of any stored
    * signature, without re-parsing history. For `modality: video` the
    * store side pairs on `sig2` (a video store's `sig` is the TEMPORAL
    * hash; frame-0 spatial lives in sig2). */
  override def apply(input: DataFrame, config: TransformConfig,
                     ctx: RunContext): DataFrame =
    config.options.get("signatureView") match {
      case None => super.apply(input, config, ctx)
      case Some(view) =>
        MediaSigIncrement.rejectSurvivorOpts(transformType, config)
        required(config, "idColumn", "bytesColumn")
        val id = config.options("idColumn")
        val modality = checkedModality(config)
        // two consumers (decode pass + keep join): stage once
        val staged = graft.api.Checkpointing.shared(input)
        val media = graft.multimodal.Multimodal.asMediaFrame(
          staged, id, config.options("bytesColumn"), modality = modality,
          sourceUriCol = id)
        val newSigs = graft.multimodal.Multimodal.imageHashes(media)
          .select(col("media_id").as("doc_id"), col("dhash").as("sig"))
        val store = graft.multimodal.Multimodal.loadMediaSignatures(
          ctx.spark.table(view), modality)
        val storeSigs =
          if (modality == "video")
            store.select(col("doc_id"), col("sig2").as("sig"))
          else store.select("doc_id", "sig")
        val hits = Dedup.hammingNearDupsAgainstSignatures(newSigs, storeSigs,
          maxHamming = intOpt(config, "maxHamming", 3),
          maxBucketSize = intOpt(config, "maxBucketSize", 10000),
          tag = "image")
        staged.join(hits.select(col("id").as(id)).distinct(), Seq(id), "left_anti")
    }
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
object AudioDedupTransform extends NearDupTransform {
  val transformType = "dedup_audio"
  override protected def contentOption: String = "bytesColumn"
  protected def pairs(input: DataFrame, id: String, bytesCol: String,
                      config: TransformConfig): DataFrame = {
    val media = graft.multimodal.Multimodal.asMediaFrame(
      input, id, bytesCol, modality = "audio", sourceUriCol = id)
    Dedup.hammingNearDups(
      graft.multimodal.Multimodal.imageHashes(media)
        .withColumnRenamed("media_id", "doc_id")
        .withColumnRenamed("dhash", "sig"),
      maxHamming = intOpt(config, "maxHamming", 3),
      maxBucketSize = intOpt(config, "maxBucketSize", 10000),
      tag = "audio")
  }

  /** With `signatureView`: INCREMENTAL mode — drop input payloads whose
    * aHash is within maxHamming of any stored audio signature, without
    * re-parsing history ([[ImageDedupTransform]]'s contract). */
  override def apply(input: DataFrame, config: TransformConfig,
                     ctx: RunContext): DataFrame =
    config.options.get("signatureView") match {
      case None => super.apply(input, config, ctx)
      case Some(view) =>
        MediaSigIncrement.rejectSurvivorOpts(transformType, config)
        required(config, "idColumn", "bytesColumn")
        val id = config.options("idColumn")
        // two consumers (decode pass + keep join): stage once
        val staged = graft.api.Checkpointing.shared(input)
        val media = graft.multimodal.Multimodal.asMediaFrame(
          staged, id, config.options("bytesColumn"), modality = "audio",
          sourceUriCol = id)
        val newSigs = graft.multimodal.Multimodal.imageHashes(media)
          .select(col("media_id").as("doc_id"), col("dhash").as("sig"))
        val store = graft.multimodal.Multimodal.loadMediaSignatures(
          ctx.spark.table(view), "audio")
        val hits = Dedup.hammingNearDupsAgainstSignatures(newSigs,
          store.select("doc_id", "sig"),
          maxHamming = intOpt(config, "maxHamming", 3),
          maxBucketSize = intOpt(config, "maxBucketSize", 10000),
          tag = "audio")
        staged.join(hits.select(col("id").as(id)).distinct(), Seq(id), "left_anti")
    }
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
object VideoDedupTransform extends NearDupTransform {
  val transformType = "dedup_video"
  override protected def contentOption: String = "bytesColumn"
  protected def pairs(input: DataFrame, id: String, bytesCol: String,
                      config: TransformConfig): DataFrame = {
    val media = graft.multimodal.Multimodal.asMediaFrame(
      input, id, bytesCol, modality = "video", sourceUriCol = id)
    val maxTemporal = intOpt(config, "maxHamming", 3)
    // hammingNearDups validates the temporal budget; the spatial confirm
    // must be just as loud — a negative budget would silently make
    // bit_count(xor) <= k false for EVERY pair (no dedup at all)
    val maxSpatial = intOpt(config, "maxSpatialHamming", maxTemporal)
    if (maxSpatial < 0 || maxSpatial > 64)
      throw new ConfigException(
        s"$transformType: maxSpatialHamming must be in [0, 64] (bits of " +
          s"the 64-bit frame-0 dHash two clips may differ by), got $maxSpatial")
    val hashes = graft.api.Checkpointing.checkpoint(
      graft.multimodal.Multimodal.videoHashes(media), eager = false)
    val temporalPairs = Dedup.hammingNearDups(
      hashes.select(col("media_id").as("doc_id"), col("thash").as("sig")),
      maxHamming = maxTemporal,
      maxBucketSize = intOpt(config, "maxBucketSize", 10000),
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

  /** With `signatureView`: INCREMENTAL mode — block input clips' temporal
    * tHashes against the store's `sig`, confirm each hit spatially
    * (input frame-0 dHash vs store `sig2`), drop the confirmed, all
    * without re-parsing (or re-decoding a single frame of) history. */
  override def apply(input: DataFrame, config: TransformConfig,
                     ctx: RunContext): DataFrame =
    config.options.get("signatureView") match {
      case None => super.apply(input, config, ctx)
      case Some(view) =>
        MediaSigIncrement.rejectSurvivorOpts(transformType, config)
        required(config, "idColumn", "bytesColumn")
        val id = config.options("idColumn")
        val maxTemporal = intOpt(config, "maxHamming", 3)
        val maxSpatial = intOpt(config, "maxSpatialHamming", maxTemporal)
        if (maxSpatial < 0 || maxSpatial > 64)
          throw new ConfigException(
            s"$transformType: maxSpatialHamming must be in [0, 64], got " +
              s"$maxSpatial")
        // two consumers (decode pass + keep join): stage once
        val staged = graft.api.Checkpointing.shared(input)
        val media = graft.multimodal.Multimodal.asMediaFrame(
          staged, id, config.options("bytesColumn"), modality = "video",
          sourceUriCol = id)
        // ONE parse per input payload serves the temporal block and the
        // spatial confirm (the self-join mode's lazy-checkpoint shape)
        val hashes = graft.api.Checkpointing.checkpoint(
          graft.multimodal.Multimodal.videoHashes(media), eager = false)
        val store = graft.multimodal.Multimodal.loadMediaSignatures(
          ctx.spark.table(view), "video")
        val temporalHits = Dedup.hammingNearDupsAgainstSignatures(
          hashes.select(col("media_id").as("doc_id"), col("thash").as("sig")),
          store.select("doc_id", "sig"),
          maxHamming = maxTemporal,
          maxBucketSize = intOpt(config, "maxBucketSize", 10000),
          tag = "video")
        val confirmed = temporalHits
          .join(hashes.where(col("dhash").isNotNull)
            .select(col("media_id").as("id"), col("dhash").as("__sa")), Seq("id"))
          .join(store.where(col("sig2").isNotNull)
            .select(col("doc_id").as("ref_id"), col("sig2").as("__sb")),
            Seq("ref_id"))
          .where(bit_count(col("__sa").bitwiseXOR(col("__sb"))) <= maxSpatial)
        staged.join(confirmed.select(col("id").as(id)).distinct(),
          Seq(id), "left_anti")
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
  override def validate(config: TransformConfig,
                        schema: org.apache.spark.sql.types.StructType): List[String] =
    Validate.columnsExist(schema,
      config.options.get("idColumn").toSeq ++
        config.options.get("bytesColumn").toSeq,
      transformType)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idColumn", "bytesColumn")
    val modality = config.options.getOrElse("modality", "image")
      .toLowerCase(java.util.Locale.ROOT)
    if (!Set("image", "audio", "video").contains(modality))
      throw new ConfigException(
        s"$transformType: modality must be image|audio|video, got " +
          s"'${config.options("modality")}'")
    graft.multimodal.Multimodal.mediaSignatures(
      graft.multimodal.Multimodal.asMediaFrame(
        input, config.options("idColumn"), config.options("bytesColumn"),
        modality = modality, sourceUriCol = config.options("idColumn")))
  }
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
object EmbeddingDedupTransform extends NearDupTransform {
  val transformType = "dedup_embedding"
  override protected def contentOption: String = "vecColumn"
  protected def pairs(input: DataFrame, id: String, vec: String,
                      config: TransformConfig): DataFrame =
    graft.ann.Ann.cosineNearDups(input, id, vec,
      threshold = doubleOpt(config, "threshold", 0.9),
      bits = intOpt(config, "bits", 8),
      tables = intOpt(config, "tables", 4),
      maxBucketSize = intOpt(config, "maxBucketSize", 1000))

  override def apply(input: DataFrame, config: TransformConfig,
                     ctx: RunContext): DataFrame =
    config.options.get("referenceView") match {
      case None => super.apply(input, config, ctx)
      case Some(view) =>
        MediaSigIncrement.rejectSurvivorOpts(transformType, config,
          modeOption = "referenceView")
        required(config, "idColumn", "vecColumn")
        val id = config.options("idColumn")
        val vec = config.options("vecColumn")
        // stage once: this branch consumes `input` three times (bucket
        // assignment, the vector re-join inside the Against call, and the
        // final keep join) — without truncation a composed upstream tower
        // re-executes per consumer (the q154 lesson)
        val staged = graft.api.Checkpointing.shared(input)
        val hits = graft.ann.Ann.cosineNearDupsAgainst(
          staged, ctx.spark.table(view), id, vec,
          config.options.getOrElse("referenceIdColumn", id),
          config.options.getOrElse("referenceVecColumn", vec),
          threshold = doubleOpt(config, "threshold", 0.9),
          bits = intOpt(config, "bits", 8),
          tables = intOpt(config, "tables", 4),
          maxBucketSize = intOpt(config, "maxBucketSize", 1000))
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
object SemanticDedupTransform extends NearDupTransform {
  val transformType = "dedup_semantic"
  override protected def contentOption: String = "vecColumn"

  /** `codebookView` reuses a persisted `codebook` store (the
    * cluster_embeddings loop): no sampling scan, stable cells across
    * runs, stamp mismatches fail fast via loadCodebook. */
  private def storedCodebook(config: TransformConfig,
                             spark: org.apache.spark.sql.SparkSession)
      : Option[Array[Array[Float]]] =
    config.options.get("codebookView").map { view =>
      graft.ann.Ann.loadCodebook(spark.table(view),
        config.options.get("nClusters").map(_.toInt),
        config.options.get("kmeansIters").map(_.toInt))
    }

  protected def pairs(input: DataFrame, id: String, vec: String,
                      config: TransformConfig): DataFrame =
    graft.ann.Ann.semanticNearDups(input, id, vec,
      threshold = doubleOpt(config, "threshold", 0.9),
      nClusters = intOpt(config, "nClusters", 64),
      kmeansIters = intOpt(config, "kmeansIters", 3),
      maxClusterSize = intOpt(config, "maxClusterSize", 1000),
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
    config.options.get("referenceView") match {
      case None => super.apply(input, config, ctx)
      case Some(view) =>
        MediaSigIncrement.rejectSurvivorOpts(transformType, config,
          modeOption = "referenceView")
        required(config, "idColumn", "vecColumn")
        val id = config.options("idColumn")
        val vec = config.options("vecColumn")
        // multi-consumer branch: stage once (see EmbeddingDedupTransform)
        val staged = graft.api.Checkpointing.shared(input)
        val hits = graft.ann.Ann.semanticNearDupsAgainst(
          staged, ctx.spark.table(view), id, vec,
          config.options.getOrElse("referenceIdColumn", id),
          config.options.getOrElse("referenceVecColumn", vec),
          threshold = doubleOpt(config, "threshold", 0.9),
          nClusters = intOpt(config, "nClusters", 64),
          kmeansIters = intOpt(config, "kmeansIters", 3),
          maxClusterSize = intOpt(config, "maxClusterSize", 1000),
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
object EmbeddingDecontaminateTransform extends Transform {
  val transformType = "decontaminate_embedding"
  override def validate(config: TransformConfig,
                        schema: org.apache.spark.sql.types.StructType): List[String] =
    Validate.columnsExist(schema,
      config.options.get("idColumn").toSeq ++
        config.options.get("vecColumn").toSeq,
      transformType)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idColumn", "vecColumn", "benchDataset")
    val id = config.options("idColumn")
    val vec = config.options("vecColumn")
    val bench = ctx.spark.table(config.options("benchDataset"))
    val benchId = config.options.getOrElse("benchIdColumn", id)
    val benchVec = config.options.getOrElse("benchVecColumn", vec)
    val threshold = config.options.get("threshold").map(_.toDouble).getOrElse(0.95)
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
  override def validate(config: TransformConfig,
                        schema: org.apache.spark.sql.types.StructType): List[String] =
    Validate.columnsExist(schema,
      config.options.get("textColumn").toSeq, transformType)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "textColumn", "referenceView")
    val text = config.options("textColumn")
    val ref = ctx.spark.table(config.options("referenceView"))
    Dedup.exactAgainst(input, text, ref,
      config.options.getOrElse("referenceTextColumn", text))
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
  override def validate(config: TransformConfig,
                        schema: org.apache.spark.sql.types.StructType): List[String] =
    Validate.columnsExist(schema,
      config.options.get("idColumn").toSeq ++
        config.options.get("textColumn").toSeq,
      transformType)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "idColumn", "textColumn", "benchDataset")
    val id = config.options("idColumn")
    val text = config.options("textColumn")
    val bench = ctx.spark.table(config.options("benchDataset"))
    val benchText = config.options.getOrElse("benchTextColumn", text)
    val n = config.options.get("shingleSize").map(_.toInt).getOrElse(3)
    // fpp only parameterizes the bloom sketch; with method=exact it is a
    // misconfiguration (the user likely meant method: bloom) — reject it
    // like the other inapplicable-option guards in this file
    if (config.options.getOrElse("method", "exact") != "bloom" &&
        config.options.contains("fpp"))
      throw new ConfigException(
        "decontaminate: fpp only applies with method: bloom — " +
          "the exact path has no false-positive rate to configure")
    config.options.getOrElse("method", "exact") match {
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
      case "bloom" =>
        Dedup.bloomDecontaminate(input, bench, text, benchText, n,
          fpp = config.options.get("fpp").map(_.toDouble).getOrElse(1e-4))
      case other => throw new graft.api.ConfigException(
        s"decontaminate: method must be exact|bloom, got '$other'")
    }
  }
}
