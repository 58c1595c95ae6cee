package graft.operators

import org.apache.spark.sql.DataFrame

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig
import graft.multimodal.Multimodal

/**
 * Declarative multimodal processing: wraps a binary payload column into the
 * canonical media frame and runs one of the partition-wise codec operations
 * ([[Multimodal.extractFeatures]] / [[Multimodal.resize]] /
 * [[Multimodal.sampleFrames]]) — the YAML surface for the multimodal
 * family, mirroring how `dedup_embedding` exposes the ANN engine. Image
 * decode/resize, animated-GIF compositing/duration/frame sampling,
 * audio decode/resample, and MJPEG-in-AVI video decode/frame sampling
 * are all REAL (JDK codecs + in-house RIFF/PCM parsing and DSP);
 * payloads no JDK codec can parse (e.g. H.264 video) yield the explicit
 * (-1, -1) sentinel, never fake dimensions. The Spark-side plumbing —
 * schema, iterator-to-iterator decode, streamwise 1→N frame explode —
 * is the tested production shape throughout.
 *
 * {{{
 * - name: image-features
 *   type: multimodal
 *   options: {operation: features, idColumn: media_id, bytesColumn: payload,
 *             modality: image}
 * }}}
 *
 * Options: operation features|resize|frames|hash|signals and
 * idColumn/bytesColumn required; modality (default image), sourceUriColumn
 * (default the id), targetW/targetH (resize, default 224), everyMs
 * (frames, default 1000), maxFrames (default 64). `hash` emits the 64-bit
 * perceptual dHash per payload (NULL when undecodable) — the signature
 * `dedup_image` blocks on. `signals` emits per-payload quality scores
 * ([[Multimodal.mediaSignals]] — visual brightness/contrast/sharpness,
 * audio rms/clip_frac/silence_frac; silenceAbs default 328 ≈ 1% FS,
 * clipAbs default 32704) — the score→gate shape `text_signals` gives text.
 */
object MultimodalTransform extends Transform {
  val transformType = "multimodal"
  private val Operation = Opt.oneOf("operation", "features", "resize", "frames", "hash",
    "signals").required
  private val IdColumn = Opt.column("idColumn").required
  private val BytesColumn = Opt.column("bytesColumn").required
  private val SourceUriColumn = Opt.column("sourceUriColumn")
  // the decoder dispatches on the EXACT string "image", so a typo ("img")
  // would silently route real images to the stub decoder and fabricate
  // features with no error
  private val Modality = Opt.oneOfIgnoringCase("modality", "image", "audio", "video").default("image")
  private val TargetW = Opt.int("targetW").default(224)
  private val TargetH = Opt.int("targetH").default(224)
  private val EveryMs = Opt.long("everyMs").default(1000L)
  private val MaxFrames = Opt.int("maxFrames").default(64)
  private val SilenceAbs = Opt.int("silenceAbs").default(328)
  private val ClipAbs = Opt.int("clipAbs").default(32704)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val id = IdColumn(config)
    val modality = Modality(config)
    val media = Multimodal.asMediaFrame(input, id, BytesColumn(config),
      modality = modality,
      sourceUriCol = SourceUriColumn.get(config).getOrElse(id))
    Operation(config) match {
      case "features" => Multimodal.extractFeatures(media)
      case "resize" =>
        if (modality == "audio") {
          Seq(TargetW, TargetH).filterNot(_.isSet(config))
            .foreach { k => throw new ConfigException(
              s"multimodal: resize on audio reads targetW/targetH as " +
                s"sampleRate/channels — set ${k.key} explicitly (the 224-pixel " +
                "image defaults are not a sample rate)") }
          val ch = TargetH(config)
          if (ch < 1 || ch > 16) throw new ConfigException(
            s"multimodal: resize on audio got targetH=$ch channels — " +
              "outside [1, 16]; targetH is the CHANNEL count for audio " +
              "(did you pass image pixel dimensions?)")
        }
        Multimodal.resize(media, targetW = TargetW(config), targetH = TargetH(config))
      case "frames" => Multimodal.sampleFrames(media,
        everyMs = EveryMs(config), maxFrames = MaxFrames(config))
      case "hash" => Multimodal.imageHashes(media)
      case _ =>
        val silence = SilenceAbs(config)
        val clip = ClipAbs(config)
        if (silence < 0 || clip <= silence || clip > 32768)
          throw new ConfigException(
            s"multimodal: signals needs 0 <= silenceAbs < clipAbs <= 32768 " +
              s"(int16 absolute-amplitude thresholds), got " +
              s"silenceAbs=$silence clipAbs=$clip")
        Multimodal.mediaSignals(media, silenceAbs = silence, clipAbs = clip)
    }
  }
}
