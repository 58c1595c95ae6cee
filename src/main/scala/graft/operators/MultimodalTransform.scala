package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{Transform, RunContext}
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
  override val columnOptions = Seq("idColumn", "bytesColumn", "sourceUriColumn")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "operation", "idColumn", "bytesColumn")
    val id = config.options("idColumn")
    val uriCol = config.options.getOrElse("sourceUriColumn", id)
    // normalize + validate: the decoder dispatches on the EXACT string
    // "image", so a typo ("Image", "img") would silently route real images
    // to the stub decoder and fabricate features with no error
    val modality = config.options.getOrElse("modality", "image")
      .toLowerCase(java.util.Locale.ROOT)
    val knownModalities = Set("image", "audio", "video")
    if (!knownModalities.contains(modality))
      throw new graft.api.ConfigException(
        s"multimodal: modality must be one of ${knownModalities.mkString("|")}, " +
          s"got '${config.options("modality")}'")
    val media = Multimodal.asMediaFrame(input, id, config.options("bytesColumn"),
      modality = modality,
      sourceUriCol = uriCol)
    config.options("operation") match {
      case "features" => Multimodal.extractFeatures(media)
      case "resize" =>
        // audio reads (targetW, targetH) as (sampleRate, channels): the
        // 224×224 IMAGE defaults would silently mean "resample to 224 Hz,
        // 224 channels" — require explicit values and a sane channel count
        if (modality == "audio") {
          Seq("targetW", "targetH").filterNot(config.options.contains)
            .foreach { k => throw new graft.api.ConfigException(
              s"multimodal: resize on audio reads targetW/targetH as " +
                s"sampleRate/channels — set $k explicitly (the 224-pixel " +
                "image defaults are not a sample rate)") }
          val ch = intOption(config, "targetH", 224)
          if (ch < 1 || ch > 16) throw new graft.api.ConfigException(
            s"multimodal: resize on audio got targetH=$ch channels — " +
              "outside [1, 16]; targetH is the CHANNEL count for audio " +
              "(did you pass image pixel dimensions?)")
        }
        Multimodal.resize(media,
          targetW = intOption(config, "targetW", 224),
          targetH = intOption(config, "targetH", 224))
      case "frames" => Multimodal.sampleFrames(media,
        everyMs = longOption(config, "everyMs", 1000L),
        maxFrames = intOption(config, "maxFrames", 64))
      // perceptual hash: (media_id, dhash) — the slim frame image dedup
      // joins on (see dedup_image for the end-to-end removal)
      case "hash" => Multimodal.imageHashes(media)
      // quality signals: the text_signals idea for media — score columns
      // a downstream quality_rules/filter gate consumes (visual
      // brightness/contrast/sharpness, audio rms/clip_frac/silence_frac)
      case "signals" =>
        val silence = intOption(config, "silenceAbs", 328)
        val clip = intOption(config, "clipAbs", 32704)
        if (silence < 0 || clip <= silence || clip > 32768)
          throw new graft.api.ConfigException(
            s"multimodal: signals needs 0 <= silenceAbs < clipAbs <= 32768 " +
              s"(int16 absolute-amplitude thresholds), got " +
              s"silenceAbs=$silence clipAbs=$clip")
        Multimodal.mediaSignals(media, silenceAbs = silence, clipAbs = clip)
      case other => throw new IllegalArgumentException(
        s"multimodal operation must be features|resize|frames|hash|signals, got '$other'")
    }
  }
}
