package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal-column plumbing: media (image/audio/video) travels as an
 * opaque BinaryType payload + typed metadata struct; decode/feature
 * extraction runs as a partition-wise batch operator (`mapPartitions`, the
 * Scala analog of mapInPandas) so a real decoder amortizes codec init per
 * partition, not per row.
 *
 * IMAGE decode/resize are REAL (JDK-only `javax.imageio` — PNG/JPEG/GIF/
 * BMP, no external codecs needed): [[ImageIODecoder]] returns true pixel
 * dimensions plus a 4×4 downsampled mean-luma feature grid, and
 * [[ImageIOResizer]] rescales and re-encodes losslessly as PNG. ANIMATED
 * GIFs are REAL timed media: duration = Σ per-frame GraphicControl
 * delays, and [[ImageFrameSampler]] samples the actual frame covering a
 * timestamp (re-encoded as a standalone PNG still). AUDIO
 * decode is REAL too (JDK-only `javax.sound.sampled` — WAV/AIFF/AU
 * PCM, no external codecs needed): [[WavPcmDecoder]] returns the true
 * sample rate / channel count / duration plus a 16-bin mean-absolute-
 * amplitude envelope over the PCM sample stream. VIDEO decode is REAL
 * for MJPEG-in-AVI ([[AviMjpeg]] — RIFF container parse + per-frame
 * ImageIO JPEG decode, no external codecs needed): true frame
 * dimensions, duration from the stream clock × indexed frame count,
 * frame-0 luma grid, and per-timestamp frame sampling. A payload the
 * JDK cannot parse yields the explicit (-1, -1) sentinel rather than
 * fake dimensions — including non-MJPEG video codecs (H.264 etc.) and
 * modality strings outside image/audio/video, which need a custom
 * decoder behind the same [[MediaDecoder]] signature (a JNI/FFmpeg
 * wrapper slots in through extractFeatures' decoder parameter).
 */
object Multimodal {

  /** Generic still decode through an EXPLICIT in-memory ImageIO stream.
    * `ImageIO.read(InputStream)` builds a disk-backed temp-file cache
    * stream per call under the global default `useCache=true`; the engine
    * used to flip that flag JVM-wide as a class-load side effect, which
    * silently changed caching for unrelated ImageIO users in the same JVM
    * (user UDFs decoding very large images). Every engine call site now
    * constructs its own memory-cached stream instead — same codecs, same
    * bytes, no global state. */
  private[multimodal] def readImageInMemory(
      content: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(content)))

  /** PNG-encode via a cached per-thread writer — the per-call
    * `ImageIO.write(img, "png", out)` path re-scans the SPI registry and
    * instantiates a fresh writer per frame; same JDK encoder, default
    * write param on both paths → identical bytes. */
  private val pngWriterTl = new ThreadLocal[javax.imageio.ImageWriter] {
    override def initialValue(): javax.imageio.ImageWriter = {
      val it = javax.imageio.ImageIO.getImageWritersByFormatName("png")
      if (it.hasNext) it.next() else null
    }
  }
  private[multimodal] def encodePng(
      img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val wr = pngWriterTl.get()
    if (wr == null) { // no PNG SPI: the original generic path
      val ios0 = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try javax.imageio.ImageIO.write(img, "png", ios0) finally ios0.close()
      return bos.toByteArray
    }
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      wr.setOutput(ios)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), null)
    } finally { wr.setOutput(null); ios.close() }
    bos.toByteArray
  }

  /** media payload schema: binary blob + source metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType),   // image | audio | video
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("source_uri", StringType),
      StructField("content_type", StringType),
      StructField("n_bytes", LongType))))))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("feature", ArrayType(FloatType))))

  /** Wrap raw bytes + ids into the canonical media frame. The id must
    * cast to a non-null long (string/UUID ids: run `assign_ids` first) —
    * enforced with a descriptive row-level error rather than the
    * downstream mapPartitions NPE a null media_id used to cause. */
  def asMediaFrame(df: DataFrame, idCol: String, bytesCol: String,
                   modality: String, sourceUriCol: String): DataFrame =
    df.select(
      when(assert_true(col(idCol).cast("long").isNotNull,
        lit(s"multimodal: idColumn '$idCol' must cast to a non-null long " +
          "(string/UUID ids need assign_ids first)")).isNull,
        col(idCol).cast("long")).as("media_id"),
      lit(modality).as("modality"),
      col(bytesCol).cast("binary").as("content"),
      struct(
        col(sourceUriCol).cast("string").as("source_uri"),
        lit(s"application/x-$modality").as("content_type"),
        length(col(bytesCol).cast("binary")).cast("long").as("n_bytes")).as("meta"))

  trait MediaDecoder extends Serializable {
    /** Decode one payload → (width, height, durationMs, feature vector). */
    def decode(modality: String, content: Array[Byte]): (Int, Int, Long, Array[Float])
  }

  /** Shared deterministic byte fold for the stub codecs (FNV-ish). */
  private def byteFold(seed: Long, content: Array[Byte]): Long = {
    var h = seed
    var i = 0
    while (i < content.length) { h = 31 * h + content(i); i += 1 }
    h
  }

  /** STUB: deterministic fake decode — dimensions and an 8-dim "feature"
    * derived from a rolling hash of the payload bytes. NOT reachable
    * from any default routing (unknown modalities sentinel instead):
    * this exists as the plumbing-test double and the worked example of
    * the [[MediaDecoder]] seam a custom modality wires through
    * extractFeatures' decoder parameter. */
  object StubDecoder extends MediaDecoder {
    def decode(modality: String, content: Array[Byte]): (Int, Int, Long, Array[Float]) = {
      val h = byteFold(1125899906842597L, content) // not a real decode
      val w = 64 + math.floorMod(h, 512).toInt
      val ht = 64 + math.floorMod(h >> 9, 512).toInt
      val dur = if (modality == "image") 0L else 1000L + math.floorMod(h >> 18, 60000L)
      val feat = Array.tabulate(8)(j => math.floorMod(h >> (j * 7), 1000L).toFloat / 1000f)
      (w, ht, dur, feat)
    }
  }

  /** REAL image decode via JDK `javax.imageio` (PNG/JPEG/GIF/BMP):
    * true width/height plus a 4×4 mean-luma grid — 16 floats, cell (i,j)
    * = mean of (r+g+b)/3 over the pixel block `[i·h/4,(i+1)·h/4) ×
    * [j·w/4,(j+1)·w/4)` in row-major order (for a grayscale source this
    * is exactly the mean pixel value, which makes the feature
    * independently computable by the golden-fixture generator). Images
    * have duration 0. An IMAGE payload ImageIO cannot parse returns the
    * explicit `(-1, -1, 0, empty)` sentinel — never fake dimensions.
    * Audio delegates to the REAL [[WavPcmDecoder]]; video to the REAL
    * [[AviMjpeg]] parser (MJPEG-in-AVI: RIFF container parse + per-frame
    * ImageIO JPEG decode — width/height from the decoded frame 0,
    * duration from the strh clock × indexed frame count, luma grid over
    * frame 0's pixels; anything unparseable → the sentinel). A modality
    * string that is none of image/audio/video sentinels too — fabricating
    * dimensions for a modality this decoder has no codec for would be
    * the one dishonest output left; custom modalities wire a custom
    * [[MediaDecoder]]. */
  object ImageIODecoder extends MediaDecoder {
    private val Grid = 4
    def decode(modality: String, content: Array[Byte]): (Int, Int, Long, Array[Float]) = {
      if (modality == "audio") return WavPcmDecoder.decode(modality, content)
      if (modality == "video") {
        AviMjpeg.read(content).flatMap { v =>
          v.frame(0).map(f0 =>
            (f0.getWidth, f0.getHeight, v.durationMs, lumaGrid(f0)))
        } match {
          case Some(r) => return r
          case None => return (-1, -1, 0L, Array.empty[Float])
        }
      }
      // a modality string outside image/audio/video: the sentinel, never
      // fabricated dimensions — a custom modality needs a custom
      // [[MediaDecoder]] wired through extractFeatures' decoder seam
      if (modality != "image") return (-1, -1, 0L, Array.empty[Float])
      // animated GIFs are REAL timed media: duration = Σ frame delays
      // (metadata-only walk, no pixel decode), dimensions = the logical
      // screen, luma grid from the COMPOSITED frame 0 (the
      // [[sampleFrames]] grid then walks the real frames through
      // [[ImageFrameSampler]])
      if (isGif(content)) {
        GifMedia.readMeta(content) match {
          case Some(meta) =>
            GifMedia.compositedFrame(content, 0) match {
              case Some(f0) =>
                return (meta.width, meta.height, meta.durationMs, lumaGrid(f0))
              case None => return (-1, -1, 0L, Array.empty[Float])
            }
          case None => return (-1, -1, 0L, Array.empty[Float])
        }
      }
      val img =
        if (content.isEmpty) null
        else try readImageInMemory(content)
        // JDK codecs throw RuntimeExceptions (IllegalArgument, AIOOBE,
        // CMMException, ...) on corrupt payloads, not just IOException —
        // one crafted image must yield the sentinel, not abort the job
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) return (-1, -1, 0L, Array.empty[Float])
      val w = img.getWidth; val h = img.getHeight
      (w, h, 0L, lumaGrid(img))
    }

    /** The 4×4 mean-luma grid over one frame — shared by the still-image
      * and animated-GIF-frame-0 paths. */
    private[multimodal] def lumaGrid(img: java.awt.image.BufferedImage): Array[Float] = {
      val w = img.getWidth; val h = img.getHeight
      val feat = new Array[Float](Grid * Grid)
      // one bulk getRGB per (cell, row) segment — per-pixel getRGB pays a
      // ColorModel dispatch per call; same sRGB values, same sums
      val row = new Array[Int](w)
      var ci = 0
      while (ci < Grid) {
        val y0 = ci * h / Grid
        val y1 = math.min(h, math.max(y0 + 1, (ci + 1) * h / Grid))
        var cj = 0
        while (cj < Grid) {
          val x0 = cj * w / Grid
          val x1 = math.min(w, math.max(x0 + 1, (cj + 1) * w / Grid))
          // integer-valued doubles sum exactly (≤ 2^53), so the mean is
          // bit-identical to the fixture generator's integer-sum division
          var sum = 0.0; var n = 0L
          val seg = x1 - x0
          var y = y0
          while (y < y1) {
            img.getRGB(x0, y, seg, 1, row, 0, seg)
            var x = 0
            while (x < seg) {
              val rgb = row(x)
              sum += ((rgb >> 16 & 0xFF) + (rgb >> 8 & 0xFF) + (rgb & 0xFF)) / 3.0
              x += 1; n += 1
            }
            y += 1
          }
          feat(ci * Grid + cj) = if (n == 0) 0f else (sum / n).toFloat
          cj += 1
        }
        ci += 1
      }
      feat
    }
  }

  /** True when the payload is a GIF container (GIF87a/GIF89a magic). */
  private[multimodal] def isGif(b: Array[Byte]): Boolean =
    b.length > 6 && b(0) == 'G'.toByte && b(1) == 'I'.toByte &&
      b(2) == 'F'.toByte && b(3) == '8'.toByte

  /** REAL animated-GIF reading via JDK `javax.imageio`'s multi-frame
    * reader, split into a METADATA-ONLY pass and an on-demand COMPOSITED
    * frame read so a foreign/hostile payload can never exhaust executor
    * heap:
    *
    *  - [[readMeta]] walks per-frame metadata (GraphicControlExtension
    *    delay/disposal/transparency + ImageDescriptor rect) without
    *    decoding a single pixel; duration and frame selection run off it.
    *  - [[compositedFrame]] decodes exactly the frames needed to DISPLAY
    *    index `idx` per the GIF89a disposal model (doNotDispose /
    *    restoreToBackgroundColor / restoreToPrevious, partial-rect frames
    *    drawn at their ImageDescriptor offset onto a logical-screen
    *    canvas), holding one canvas + one frame at a time. A frame that
    *    covers the full canvas with no transparency resets the
    *    composition, so the loop starts at the LAST such frame ≤ idx —
    *    O(1) decodes for full-frame GIFs (everything
    *    [[syntheticAnimatedGif]] writes), O(run-of-partial-frames) for
    *    optimized ones.
    *  - Both passes are capped at [[MaxFrames]] frames: a crafted GIF
    *    with thousands of frames contributes only its first MaxFrames to
    *    duration/sampling — a documented hostile-input ceiling, loudly
    *    bounded rather than silently unbounded.
    *
    * Delay semantics unchanged: centiseconds → ms; a frame with no/zero
    * delay contributes 0 (the degrade-gracefully convention for foreign
    * single-frame GIFs). None for anything the reader cannot parse —
    * callers fall back to their single-image / sentinel paths. */
  private[multimodal] object GifMedia {
    /** Hard ceiling on frames considered per payload (4× the sampling
      * grid's 64-frame default): bounds both the metadata walk and the
      * compositing loop against hostile frame counts. */
    val MaxFrames = 256

    /** Pixel cap for the logical screen (width·height): a crafted
      * 65535×65535 screen descriptor would otherwise allocate a 17 GB
      * ARGB canvas per row in flight. 64 MP ≈ 256 MB canvas, far above
      * any real GIF. */
    val MaxCanvasPixels: Long = 64L * 1024 * 1024

    final case class FrameMeta(delayMs: Long, disposal: String,
                               left: Int, top: Int, width: Int, height: Int,
                               transparent: Boolean) {
      /** True when displaying this frame makes every earlier frame
        * invisible: full-canvas rect, no transparent palette entry. */
      def coversCanvas(cw: Int, ch: Int): Boolean =
        !transparent && left == 0 && top == 0 && width >= cw && height >= ch
    }
    final case class Meta(width: Int, height: Int, frames: IndexedSeq[FrameMeta]) {
      def durationMs: Long = frames.iterator.map(_.delayMs).sum
    }

    private def withReader[A](content: Array[Byte])(
        f: javax.imageio.ImageReader => Option[A]): Option[A] = {
      if (!isGif(content)) return None
      try {
        // explicit in-memory stream — see [[Multimodal.readImageInMemory]]
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(content))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) return None
          val reader = readers.next()
          try { reader.setInput(iis); f(reader) } finally reader.dispose()
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Metadata-only read: logical-screen dims (grown to cover any
      * frame rect, so off-screen frames stay drawable) + per-frame
      * delay/disposal/rect/transparency. No pixel data is decoded. */
    def readMeta(content: Array[Byte]): Option[Meta] =
      withReader(content)(readMetaOf)

    /** The frame as DISPLAYED at index `idx`: frames composited per their
      * disposal methods onto a logical-screen ARGB canvas (undrawn /
      * disposed-to-background pixels are transparent → luma 0). Memory is
      * one canvas + one decoded frame; decodes start at the last
      * canvas-covering frame ≤ idx. */
    def compositedFrame(content: Array[Byte], idx: Int)
        : Option[java.awt.image.BufferedImage] = withReader(content) { reader =>
      readMetaOf(reader).flatMap { meta =>
        if (idx < 0 || idx >= meta.frames.length) None
        else try {
          // a cover frame is a valid REPLAY RESTART only if its disposal
          // doesn't reach back past it: restoreToPrevious reverts to the
          // pre-draw canvas, which at a restart is blank but in the true
          // forward composition is frames 0..s-1 — starting there would
          // diverge from walkComposited for every index past s. At i ==
          // idx the disposal never applies (frames display pre-disposal),
          // so the target frame itself may restart regardless.
          val start = (idx to 0 by -1).find(i =>
            meta.frames(i).coversCanvas(meta.width, meta.height) &&
              (i == idx ||
                meta.frames(i).disposal != "restoreToPrevious")).getOrElse(0)
          var canvas = new java.awt.image.BufferedImage(
            meta.width, meta.height, java.awt.image.BufferedImage.TYPE_INT_ARGB)
          var i = start
          while (i <= idx) {
            val fm = meta.frames(i)
            // restoreToPrevious reverts to the canvas BEFORE this frame
            // drew — snapshot only when the disposal actually needs it
            val snapshot =
              if (i < idx && fm.disposal == "restoreToPrevious") {
                val c = new java.awt.image.BufferedImage(
                  meta.width, meta.height,
                  java.awt.image.BufferedImage.TYPE_INT_ARGB)
                val g = c.createGraphics()
                try g.drawImage(canvas, 0, 0, null) finally g.dispose()
                Some(c)
              } else None
            val frame = reader.read(i)
            val g = canvas.createGraphics()
            try g.drawImage(frame, fm.left, fm.top, null) finally g.dispose()
            if (i < idx) fm.disposal match {
              case "restoreToBackgroundColor" =>
                // GIF background "color" renders as transparent in every
                // modern viewer (the background index is palette-local)
                val g2 = canvas.createGraphics()
                try {
                  g2.setComposite(java.awt.AlphaComposite.Clear)
                  g2.fillRect(fm.left, fm.top, fm.width, fm.height)
                } finally g2.dispose()
              case "restoreToPrevious" => snapshot.foreach(canvas = _)
              case _ => () // none / doNotDispose / unknown: leave as drawn
            }
            i += 1
          }
          Some(canvas)
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }

    /** Forward-compositing walk — ONE reader, ONE rolling canvas, each
      * frame's pixel data decoded EXACTLY ONCE: `visit(idx, canvas)` is
      * invoked with the canvas exactly as frame `idx` displays (identical
      * to [[compositedFrame]]`(content, idx)` — a full-cover opaque frame
      * overwrites every canvas pixel, so the rolling composition and the
      * start-at-last-cover replay agree; pinned by spec), for idx `0 until
      * min(frames, maxFrames)`. The canvas is the LIVE buffer and mutates
      * after visit returns — consumers reduce immediately (mean luma, a
      * hash grid), never retain it. Returns `Some((meta, visited))`:
      * `visited < min(frames, maxFrames)` means a mid-stream frame failed
      * to decode (earlier visits already happened); None when the
      * container itself cannot be parsed. This is the O(frames) path the
      * per-index [[compositedFrame]] loop cannot give (each call re-opens
      * the reader and re-composites — O(run²) over a walk). */
    def walkComposited(content: Array[Byte], maxFrames: Int)(
        visit: (Int, java.awt.image.BufferedImage) => Unit)
        : Option[(Meta, Int)] = withReader(content) { reader =>
      readMetaOf(reader).map { meta =>
        val n = math.min(meta.frames.length, math.max(0, maxFrames))
        val canvas = new java.awt.image.BufferedImage(
          meta.width, meta.height, java.awt.image.BufferedImage.TYPE_INT_ARGB)
        var cur = canvas
        var i = 0; var ok = true
        while (ok && i < n) {
          val fm = meta.frames(i)
          val snapshot =
            if (i < n - 1 && fm.disposal == "restoreToPrevious") {
              val c = new java.awt.image.BufferedImage(
                meta.width, meta.height,
                java.awt.image.BufferedImage.TYPE_INT_ARGB)
              val g = c.createGraphics()
              try g.drawImage(cur, 0, 0, null) finally g.dispose()
              Some(c)
            } else None
          try {
            val frame = reader.read(i)
            val g = cur.createGraphics()
            try g.drawImage(frame, fm.left, fm.top, null) finally g.dispose()
            visit(i, cur)
            // frame i's disposal applies BEFORE frame i+1 draws; the
            // visited canvas shows frame i as displayed (no disposal) —
            // compositedFrame's `if (i < idx)` condition exactly
            fm.disposal match {
              case "restoreToBackgroundColor" =>
                val g2 = cur.createGraphics()
                try {
                  g2.setComposite(java.awt.AlphaComposite.Clear)
                  g2.fillRect(fm.left, fm.top, fm.width, fm.height)
                } finally g2.dispose()
              case "restoreToPrevious" => snapshot.foreach(cur = _)
              case _ => () // none / doNotDispose / unknown: leave as drawn
            }
            i += 1
          } catch { case scala.util.control.NonFatal(_) => ok = false }
        }
        (meta, i)
      }
    }

    /** [[readMeta]] body against an already-open reader (shared by the
      * compositing pass so one open serves both metadata and pixels). */
    private def readMetaOf(reader: javax.imageio.ImageReader): Option[Meta] =
      try {
        val n = math.min(reader.getNumImages(true), MaxFrames)
        if (n <= 0) None
        else {
          val frames = Vector.tabulate(n) { i =>
            frameMeta(reader.getImageMetadata(i),
              reader.getWidth(i), reader.getHeight(i))
          }
          val (sw, sh) = screenDims(reader)
          val w = math.max(sw, frames.iterator.map(f => f.left + f.width).max)
          val h = math.max(sh, frames.iterator.map(f => f.top + f.height).max)
          if (w.toLong * h > MaxCanvasPixels) None
          else Some(Meta(w, h, frames))
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    private def screenDims(reader: javax.imageio.ImageReader): (Int, Int) =
      try {
        val sm = reader.getStreamMetadata
        val fmt = "javax_imageio_gif_stream_1.0"
        if (sm == null || !sm.getMetadataFormatNames.contains(fmt)) (0, 0)
        else {
          val kids = sm.getAsTree(fmt).getChildNodes
          var i = 0
          while (i < kids.getLength) {
            val k = kids.item(i)
            if (k.getNodeName == "LogicalScreenDescriptor") {
              val at = k.getAttributes
              def v(name: String): Int = {
                val a = at.getNamedItem(name)
                if (a == null) 0
                else try math.max(0, a.getNodeValue.toInt)
                catch { case _: NumberFormatException => 0 }
              }
              return (v("logicalScreenWidth"), v("logicalScreenHeight"))
            }
            i += 1
          }
          (0, 0)
        }
      } catch { case scala.util.control.NonFatal(_) => (0, 0) }

    private def frameMeta(meta: javax.imageio.metadata.IIOMetadata,
                          w: Int, h: Int): FrameMeta = {
      val fmt = "javax_imageio_gif_image_1.0"
      var delay = 0L; var disposal = "none"; var transparent = false
      var left = 0; var top = 0
      if (meta.getMetadataFormatNames.contains(fmt)) {
        val kids = meta.getAsTree(fmt).getChildNodes
        var i = 0
        while (i < kids.getLength) {
          val k = kids.item(i)
          def attr(name: String): Option[String] =
            Option(k.getAttributes.getNamedItem(name)).map(_.getNodeValue)
          k.getNodeName match {
            case "GraphicControlExtension" =>
              delay = attr("delayTime")
                .flatMap(_.toLongOption).map(d => math.max(0L, d) * 10L)
                .getOrElse(0L)
              disposal = attr("disposalMethod").getOrElse("none")
              transparent = attr("transparentColorFlag").exists(_.toBoolean)
            case "ImageDescriptor" =>
              left = attr("imageLeftPosition").flatMap(_.toIntOption)
                .map(math.max(0, _)).getOrElse(0)
              top = attr("imageTopPosition").flatMap(_.toIntOption)
                .map(math.max(0, _)).getOrElse(0)
            case _ => ()
          }
          i += 1
        }
      }
      FrameMeta(delay, disposal, left, top, w, h, transparent)
    }
  }

  /** Deterministic synthetic animated grayscale GIF — the multi-frame
    * counterpart of [[syntheticImagePng]]: frame f's pixel (x, y) has
    * gray value `(seed·31 + x·7 + y·13 + f·17) mod 256`, every frame
    * stamped with the same `delayCs` (centiseconds) GraphicControl
    * delay. Grayscale fits GIF's 256-entry palette exactly, so the
    * LZW roundtrip is pixel-lossless and the golden generator
    * (tools/gen_golden_q155.py) can recompute every luma value straight
    * from the formula with no image library. */
  def syntheticAnimatedGif(seed: Long, w: Int, h: Int, nFrames: Int,
                           delayCs: Int): Array[Byte] = {
    require(w > 0 && h > 0 && nFrames > 0 && delayCs > 0,
      s"syntheticAnimatedGif: positive dims/frames/delay required, got " +
        s"${w}x$h frames=$nFrames delay=$delayCs")
    val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    // explicit in-memory stream — see [[Multimodal.readImageInMemory]]
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    // an EXPLICIT identity gray palette (index i → sRGB (i,i,i)):
    // TYPE_BYTE_GRAY would round pixels through the linear-gray color
    // space on setRGB/getRGB, breaking the formula's exact values
    val grays = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      // one bulk raster write per frame: per-pixel setSample pays a
      // SampleModel dispatch per call; same palette indices
      val px = new Array[Byte](w * h)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = java.lang.Math.floorMod(
              seed * 31 + x * 7 + y * 13 + f * 17, 256L).toInt
            px(y * w + x) = v.toByte
            x += 1
          }
          y += 1
        }
        img.getRaster.setDataElements(0, 0, w, h, px)
        val meta = writer.getDefaultImageMetadata(
          javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img),
          writer.getDefaultWriteParam)
        val fmt = "javax_imageio_gif_image_1.0"
        val root = meta.getAsTree(fmt)
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        // an EXPLICIT identity LocalColorTable: without it the JDK writer
        // keeps the raster's raw indices but emits its default web-safe
        // palette — pixels silently remap (measured: gray 7 decoded as 51)
        val lct = new javax.imageio.metadata.IIOMetadataNode("LocalColorTable")
        lct.setAttribute("sizeOfLocalColorTable", "256")
        lct.setAttribute("sortFlag", "FALSE")
        var ci = 0
        while (ci < 256) {
          val e = new javax.imageio.metadata.IIOMetadataNode("ColorTableEntry")
          e.setAttribute("index", ci.toString)
          e.setAttribute("red", ci.toString)
          e.setAttribute("green", ci.toString)
          e.setAttribute("blue", ci.toString)
          lct.appendChild(e)
          ci += 1
        }
        root.appendChild(lct)
        val gce = new javax.imageio.metadata.IIOMetadataNode(
          "GraphicControlExtension")
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", delayCs.toString)
        gce.setAttribute("transparentColorIndex", "0")
        root.appendChild(gce)
        meta.setFromTree(fmt, root)
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, meta), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** REAL audio decode via JDK `javax.sound.sampled` (WAV/AIFF/AU
    * containers, PCM payloads — no external codec needed): reports
    * `width` = sample rate (Hz), `height` = channel count,
    * `duration_ms` = frames·1000/rate (floor — integer division on both
    * the decode and fixture sides), and a 16-bin mean-absolute-amplitude
    * envelope as the feature vector: bin b covers sample frames
    * `[b·F/16, (b+1)·F/16)` (the image grid's block bounds, channels
    * pooled within a frame), value = (Σ|sample| / count) / 32768 — the
    * int16 full scale, so 0.0 is silence and 1.0 a square wave at full
    * amplitude. Integer-valued double sums are exact (≤ 2^53), so the
    * value is bit-identical to the golden generator's integer-sum
    * arithmetic (the [[ImageIODecoder]] float-parity discipline).
    * Only PCM_SIGNED 16-bit payloads are scored — anything the JDK
    * cannot parse (or a non-16-bit/unsigned encoding) yields the
    * explicit `(-1, -1, 0, empty)` sentinel, never fake dimensions.
    * Non-audio modalities delegate to [[ImageIODecoder]]'s routing. */
  object WavPcmDecoder extends MediaDecoder {
    private val Bins = 16

    /** Parse a PCM_SIGNED 16-bit payload through `javax.sound.sampled`:
      * (sampleRate, channels, bigEndian, raw sample bytes). None for
      * anything the JDK cannot read or a non-PCM16 encoding — shared by
      * the decoder and [[WavPcmResizer]]. */
    private[multimodal] def parsePcm16(content: Array[Byte])
        : Option[(Int, Int, Boolean, Array[Byte])] = {
      if (content.isEmpty) return None
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(content))
        try {
          val fmt = in.getFormat
          if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
              || fmt.getSampleSizeInBits != 16) None
          else Some((fmt.getSampleRate.toInt, fmt.getChannels,
            fmt.isBigEndian, in.readAllBytes()))
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    def decode(modality: String, content: Array[Byte]): (Int, Int, Long, Array[Float]) = {
      if (modality != "audio") return ImageIODecoder.decode(modality, content)
      val parsed = parsePcm16(content)
      if (parsed.isEmpty) return (-1, -1, 0L, Array.empty[Float])
      val (rate, channels, bigEndian, bytes) = parsed.get
      val frameBytes = channels * 2
      val frames = bytes.length / frameBytes
      if (rate <= 0 || channels <= 0 || frames == 0)
        return (-1, -1, 0L, Array.empty[Float])
      val durMs = frames.toLong * 1000L / rate
      def sample(frame: Int, ch: Int): Int = {
        val i = (frame * channels + ch) * 2
        if (bigEndian) (bytes(i) << 8) | (bytes(i + 1) & 0xFF)
        else (bytes(i + 1) << 8) | (bytes(i) & 0xFF)
      }
      val feat = new Array[Float](Bins)
      var b = 0
      while (b < Bins) {
        val f0 = b * frames / Bins
        val f1 = math.min(frames, math.max(f0 + 1, (b + 1) * frames / Bins))
        var sum = 0.0; var n = 0L
        var f = f0
        while (f < f1) {
          var c = 0
          while (c < channels) {
            sum += math.abs(sample(f, c)); c += 1; n += 1
          }
          f += 1
        }
        feat(b) = if (n == 0) 0f else ((sum / n) / 32768.0).toFloat
        b += 1
      }
      (rate, channels, durMs, feat)
    }
  }

  /** Deterministic synthetic 16-bit PCM WAV — the audio counterpart of
    * [[syntheticImagePng]], and like it the scaffolding BOTH the verify
    * query and its INDEPENDENT golden generator derive from: sample
    * (frame i, channel c) = ((seed·31 + i·7 + c·11) mod 4096) − 2048.
    * The container is hand-assembled RIFF/WAVE/fmt/data (this method
    * must not itself go through `javax.sound.sampled`, or the decode
    * test would only prove the JDK roundtrips its own writer); the
    * fixture side (tools/gen_golden_q153.py) computes duration and the
    * 16-bin envelope straight from the sample formula with no audio
    * library, so the decode only matches if [[WavPcmDecoder]] genuinely
    * parses the container and reads PCM samples. */
  /** Deterministic synthetic MJPEG-in-AVI clip — see [[AviMjpeg.synthetic]]
    * (hand-assembled RIFF/AVI container, bit-exact 16×16-tile JPEG frames,
    * the scaffolding the q157 verify query and its independent golden
    * generator both derive from). */
  def syntheticMjpegAvi(seed: Long, w: Int, h: Int, nFrames: Int,
                        rate: Int, scale: Int = 1): Array[Byte] =
    AviMjpeg.synthetic(seed, w, h, nFrames, rate, scale)

  def syntheticWavPcm16(seed: Long, sampleRate: Int, channels: Int,
                        nFrames: Int): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && nFrames > 0,
      s"syntheticWavPcm16: positive rate/channels/frames required, got " +
        s"$sampleRate/$channels/$nFrames")
    val dataLen = nFrames * channels * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                       // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort)  // block align
      .putShort(16)                      // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nFrames) {
      var c = 0
      while (c < channels) {
        val v = java.lang.Math.floorMod(seed * 31 + i * 7 + c * 11, 4096L).toInt - 2048
        buf.putShort(v.toShort)
        c += 1
      }
      i += 1
    }
    buf.array()
  }

  /**
   * Partition-wise decode/feature-extract. Iterator-to-iterator transform:
   * nothing is materialized per partition beyond the row in flight, so
   * partition size is bounded by `spark.sql.files.maxPartitionBytes`, not
   * by media payload count.
   */
  def extractFeatures(media: DataFrame, decoder: MediaDecoder = ImageIODecoder): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.select("media_id", "modality", "content").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0); val modality = r.getString(1)
        val bytes = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
        val (w, h, dur, feat) = decoder.decode(modality, bytes)
        Row(id, modality, w, h, dur, feat)
      }
    }(enc)
  }

  trait MediaResizer extends Serializable {
    /** Re-encode one payload at (targetW, targetH) → new payload bytes. */
    def resize(modality: String, content: Array[Byte], targetW: Int, targetH: Int): Array[Byte]
  }

  /** STUB resizer: deterministic re-encode stand-in — emits a payload whose
    * length scales with the target area and whose bytes derive from a hash
    * of the input (so equal inputs resize equally and tests can assert
    * determinism). Replace with a real codec without touching plumbing. */
  object StubResizer extends MediaResizer {
    def resize(modality: String, content: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
      val h = byteFold(1125899906842597L, content)
      val n = math.max(16, (targetW.toLong * targetH / 64).toInt)
      Array.tabulate(n)(j => ((h >> (j % 56)) & 0xFF).toByte)
    }
  }

  /** REAL audio resample — the audio "resize": for an audio payload,
    * `targetW` is the target SAMPLE RATE (Hz) and `targetH` the target
    * CHANNEL COUNT (the resize signature's honest audio reading;
    * `extractFeatures` reports the same mapping back as width/height).
    * The JDK ships no rate-conversion SPI, so the DSP is done here
    * directly on the parsed PCM16 stream: channel mixdown first
    * (stereo→mono by average, 1→k by duplication), then — when
    * DOWNSAMPLING — an anti-aliasing low-pass (content above the target
    * Nyquist would otherwise fold into the band at full amplitude):
    * a Hann-windowed sinc FIR at cutoff dstRate/2, half-width
    * [[FilterHalfWidth]] taps, edge samples clamped (replicated).
    * Tap values are INTEGER-QUANTIZED at 2^20 and normalized by their
    * exact integer sum, so the convolution runs in exact Long
    * arithmetic and the result is bit-reproducible by the
    * golden-fixture generator's integer replay (the WavPcmDecoder
    * float-parity discipline) — and DC gain is exactly 1, so constant
    * signals pass through untouched. Then linear interpolation onto the
    * target rate's sample grid — output frame j reads source position
    * `j · srcRate / dstRate` and rounds half-up (`Math.rint`-free:
    * floor(v + 0.5), engine-reproducible), preserving duration to the
    * frame granularity. Upsampling applies no filter (nothing can
    * alias). Output is a fresh hand-assembled PCM16 WAV
    * ([[syntheticWavPcm16]]'s container), so a re-decode reports
    * exactly the target rate/channels. Payloads the WAV parser rejects
    * (and non-audio modalities) delegate to [[ImageIOResizer]]'s
    * routing. */
  object WavPcmResizer extends MediaResizer {
    /** Half-width K of the anti-aliasing FIR (2K+1 taps, Hann window
      * zeroing the edges): ~44 dB stopband with a transition band of
      * ≈ 3.3/(2K+1) of the source rate — the classic windowed-sinc
      * trade-off; raise for sharper cutoff at linearly more CPU. */
    val FilterHalfWidth = 16
    def resize(modality: String, content: Array[Byte], targetW: Int,
               targetH: Int): Array[Byte] = {
      if (modality != "audio")
        return ImageIOResizer.resize(modality, content, targetW, targetH)
      val parsed = WavPcmDecoder.parsePcm16(content)
      if (parsed.isEmpty || targetW <= 0 || targetH <= 0)
        return StubResizer.resize(modality, content, targetW, targetH)
      val (srcRate, srcCh, bigEndian, bytes) = parsed.get
      val frames = bytes.length / (srcCh * 2)
      if (frames == 0 || srcRate <= 0)
        return StubResizer.resize(modality, content, targetW, targetH)
      def sample(frame: Int, ch: Int): Int = {
        val i = (frame * srcCh + ch) * 2
        if (bigEndian) (bytes(i) << 8) | (bytes(i + 1) & 0xFF)
        else (bytes(i + 1) << 8) | (bytes(i) & 0xFF)
      }
      // mixdown to ONE intermediate channel stream per target channel:
      // src mono → every target channel reads it; src multi → average
      def mixed(frame: Int): Double = {
        var s = 0.0; var c = 0
        while (c < srcCh) { s += sample(frame, c); c += 1 }
        s / srcCh
      }
      // anti-aliasing low-pass, DOWNSAMPLING ONLY: integer-quantized
      // Hann-windowed sinc over the channel-SUM stream (exact Long
      // convolution; edge frames clamp-replicate), normalized by the
      // exact tap sum then the channel count — two IEEE divisions the
      // fixture generator replays bit-identically. StrictMath keeps the
      // tap values platform-independent.
      val filteredMixed: Int => Double =
        if (targetW >= srcRate) mixed
        else {
          val k = FilterHalfWidth
          val fc = targetW / (2.0 * srcRate)
          val q = new Array[Long](2 * k + 1)
          var t = -k
          while (t <= k) {
            val c =
              if (t == 0) 2 * fc
              else StrictMath.sin(2 * math.Pi * fc * t) / (math.Pi * t)
            val w = 0.5 + 0.5 * StrictMath.cos(math.Pi * t / k.toDouble)
            q(t + k) = math.floor(c * w * (1 << 20) + 0.5).toLong
            t += 1
          }
          val sumQ = q.sum
          def chanSum(frame: Int): Long = {
            val f = math.max(0, math.min(frames - 1, frame))
            var s = 0L; var c = 0
            while (c < srcCh) { s += sample(f, c); c += 1 }
            s
          }
          val m = new Array[Double](frames)
          var i = 0
          while (i < frames) {
            var acc = 0L; var tt = -k
            while (tt <= k) { acc += q(tt + k) * chanSum(i + tt); tt += 1 }
            m(i) = acc.toDouble / sumQ / srcCh
            i += 1
          }
          m(_)
        }
      val outFrames = math.max(1,
        (frames.toLong * targetW / srcRate).toInt)
      val out = new Array[Short](outFrames)
      var j = 0
      while (j < outFrames) {
        val pos = j.toDouble * srcRate / targetW
        val i0 = math.min(frames - 1, pos.toInt)
        val i1 = math.min(frames - 1, i0 + 1)
        val frac = pos - i0
        val v = filteredMixed(i0) * (1.0 - frac) + filteredMixed(i1) * frac
        out(j) = math.max(-32768.0, math.min(32767.0,
          math.floor(v + 0.5))).toShort
        j += 1
      }
      val buf = java.nio.ByteBuffer.allocate(44 + outFrames * targetH * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val dataLen = outFrames * targetH * 2
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(targetH.toShort)
        .putInt(targetW).putInt(targetW * targetH * 2)
        .putShort((targetH * 2).toShort).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      j = 0
      while (j < outFrames) {
        var c = 0
        while (c < targetH) { buf.putShort(out(j)); c += 1 }
        j += 1
      }
      buf.array()
    }
  }

  /** REAL image resize via JDK `javax.imageio` + `Graphics2D`: decode,
    * bilinear-rescale to (targetW, targetH), re-encode as PNG (lossless —
    * a decode of the output reports exactly the target dimensions).
    * VIDEO payloads resize for REAL too when they parse as MJPEG-AVI
    * ([[AviMjpeg.resizeClip]]: every frame decoded, bilinear-rescaled,
    * re-encoded at JPEG quality 1.0, container reassembled with the same
    * frame clock — duration and frame count preserved, a re-decode
    * reports the target dimensions). Undecodable payloads and other
    * modalities delegate to [[StubResizer]], so the pipeline keeps
    * flowing for media the JDK has no codec for. */
  object ImageIOResizer extends MediaResizer {
    def resize(modality: String, content: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
      if (modality == "video") {
        return AviMjpeg.resizeClip(content, targetW, targetH)
          .getOrElse(StubResizer.resize(modality, content, targetW, targetH))
      }
      val img =
        if (modality != "image" || content.isEmpty) null
        else try readImageInMemory(content)
        // JDK codecs throw RuntimeExceptions (IllegalArgument, AIOOBE,
        // CMMException, ...) on corrupt payloads, not just IOException —
        // one crafted image must yield the sentinel, not abort the job
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) return StubResizer.resize(modality, content, targetW, targetH)
      val out = new java.awt.image.BufferedImage(
        targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, targetW, targetH, null)
      } finally g.dispose()
      // cached per-thread PNG writer + explicit memory stream (same JDK
      // encoder, default params → identical bytes)
      encodePng(out)
    }
  }

  /**
   * Partition-wise resize: same media schema out, payload re-encoded at the
   * target dimensions, metadata updated (content_type gains `;resized=WxH`,
   * n_bytes recomputed). Iterator-to-iterator, codec init amortizable per
   * partition — the batch shape a real image pipeline needs.
   */
  def resize(media: DataFrame, targetW: Int, targetH: Int,
             resizer: MediaResizer = WavPcmResizer): DataFrame = {
    // fail on the driver — a non-positive target would crash inside
    // executor tasks (BufferedImage rejects 0) with an opaque stack trace,
    // while the stub path would silently "succeed" with 16-byte payloads
    require(targetW > 0 && targetH > 0,
      s"resize: target dimensions must be positive, got ${targetW}x$targetH")
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    media.select("media_id", "modality", "content", "meta").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0); val modality = r.getString(1)
        val bytes = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
        // user-supplied media frames may carry null meta / meta fields —
        // degrade to defaults rather than an executor NPE
        val meta = if (r.isNullAt(3)) null else r.getStruct(3)
        val srcUri =
          if (meta == null || meta.isNullAt(0)) null else meta.getString(0)
        val ctype =
          if (meta == null || meta.isNullAt(1)) "application/octet-stream"
          else meta.getString(1)
        val out = resizer.resize(modality, bytes, targetW, targetH)
        Row(id, modality, out, Row(
          srcUri,
          s"$ctype;resized=${targetW}x$targetH",
          out.length.toLong))
      }
    }(enc)
  }

  /** Decode the representative STILL of a payload: plain images decode
    * directly, animated GIFs composite frame 0, MJPEG-AVI clips decode
    * frame 0. None for anything undecodable or a modality with no visual
    * reading — shared by [[dHash64]] and any visual feature built on one
    * frame. */
  private[multimodal] def decodeStill(modality: String, content: Array[Byte])
      : Option[java.awt.image.BufferedImage] = modality match {
    case "image" if isGif(content) => GifMedia.compositedFrame(content, 0)
    case "image" =>
      if (content.isEmpty) None
      else try Option(readImageInMemory(content))
      catch { case scala.util.control.NonFatal(_) => None }
    case "video" => AviMjpeg.read(content).flatMap(_.frame(0))
    case _ => None
  }

  /**
   * REAL perceptual image hash — dHash (difference hash), the standard
   * near-duplicate image signature: the still is reduced to an 8×9
   * block-mean luma grid (integer pixel boxes, the [[ImageIODecoder]]
   * grid arithmetic — exact and replayable by a no-library fixture
   * generator), and bit `r·8 + c` is set iff `mean(r, c) > mean(r, c+1)`
   * (strict) — 64 horizontal-gradient bits. Gradient signs survive
   * re-encoding, mild rescales, and global brightness shifts, which is
   * exactly what makes dHash the production choice for screening
   * near-identical crawl images; pair it with
   * [[graft.dedup.Dedup.hammingNearDups]] (the text-SimHash blocking
   * engine) for corpus-scale image dedup. None for undecodable payloads —
   * a hash fabricated from bytes would pair garbage. */
  def dHash64(modality: String, content: Array[Byte]): Option[Long] =
    decodeStill(modality, content).map(dHashOf)

  /** The dHash grid over an already-decoded still — shared by
    * [[dHash64]] and [[videoHashes]]'s single-parse walk. */
  private def dHashOf(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val means = Array.ofDim[Double](8, 9)
    // bulk getRGB per (cell, row) segment — see lumaGrid; values identical
    val row = new Array[Int](w)
    var r = 0
    while (r < 8) {
      val y0 = r * h / 8
      val y1 = math.min(h, math.max(y0 + 1, (r + 1) * h / 8))
      var c = 0
      while (c < 9) {
        val x0 = c * w / 9
        val x1 = math.min(w, math.max(x0 + 1, (c + 1) * w / 9))
        var sum = 0.0; var n = 0L
        val seg = x1 - x0
        var y = y0
        while (y < y1) {
          img.getRGB(x0, y, seg, 1, row, 0, seg)
          var x = 0
          while (x < seg) {
            val rgb = row(x)
            sum += ((rgb >> 16 & 0xFF) + (rgb >> 8 & 0xFF) + (rgb & 0xFF)) / 3.0
            x += 1; n += 1
          }
          y += 1
        }
        means(r)(c) = if (n == 0) 0.0 else sum / n
        c += 1
      }
      r += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      val rr = k / 8; val cc = k % 8
      if (means(rr)(cc) > means(rr)(cc + 1)) hash |= (1L << k)
      k += 1
    }
    hash
  }

  /**
   * REAL perceptual AUDIO hash — the dHash idea on the time axis: the
   * PCM stream splits into 65 equal sample-frame windows, each reduced
   * to its mean |amplitude| (channels pooled — exact integer sums, the
   * WavPcmDecoder envelope arithmetic), and bit `k` is set iff
   * `mean(k) > mean(k+1)` (strict) — 64 envelope-gradient sign bits.
   * Gradient signs are invariant to any positive gain change (volume
   * normalization, format-conversion level shifts) and robust to mild
   * re-encoding, which makes this the screening signature for
   * near-identical audio clips; pair with
   * [[graft.dedup.Dedup.hammingNearDups]] for corpus-scale audio dedup.
   * None for anything the PCM16 parser rejects — a hash fabricated from
   * bytes would pair garbage. Clips shorter than 65 frames still hash
   * (empty windows mean 0 — the min-1-frame guard keeps windows
   * non-empty whenever frames ≥ 65). */
  def aHash64(content: Array[Byte]): Option[Long] =
    WavPcmDecoder.parsePcm16(content).flatMap { case (rate, channels, bigEndian, bytes) =>
      val frameBytes = channels * 2
      val frames = bytes.length / frameBytes
      if (rate <= 0 || channels <= 0 || frames == 0) None
      else {
        def sample(frame: Int, ch: Int): Int = {
          val i = (frame * channels + ch) * 2
          if (bigEndian) (bytes(i) << 8) | (bytes(i + 1) & 0xFF)
          else (bytes(i + 1) << 8) | (bytes(i) & 0xFF)
        }
        val means = new Array[Double](65)
        var b = 0
        while (b < 65) {
          val f0 = b * frames / 65
          val f1 = math.min(frames, math.max(f0 + 1, (b + 1) * frames / 65))
          var sum = 0.0; var n = 0L
          var f = f0
          while (f < f1) {
            var c = 0
            while (c < channels) { sum += math.abs(sample(f, c)); c += 1; n += 1 }
            f += 1
          }
          means(b) = if (n == 0) 0.0 else sum / n
          b += 1
        }
        var hash = 0L
        var k = 0
        while (k < 64) {
          if (means(k) > means(k + 1)) hash |= (1L << k)
          k += 1
        }
        Some(hash)
      }
    }

  /** Per-payload perceptual hashes: `(media_id, dhash)` with NULL for
    * undecodable payloads (they can never pair — the null-signature
    * convention [[graft.dedup.Dedup.hammingNearDups]] filters). Audio
    * payloads hash via [[aHash64]] (envelope gradients), visual
    * modalities via [[dHash64]] (luma gradients). The slim frame this
    * emits is all the media-dedup join ever shuffles — media bytes stay
    * in their scan. */
  def imageHashes(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("dhash", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "modality", "content").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0); val modality = r.getString(1)
        val bytes = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
        val hash =
          if (modality == "audio") aHash64(bytes)
          else dHash64(modality, bytes)
        Row(id, hash.map(Long.box).orNull)
      }
    }(enc)
  }

  /** Hard ceiling on frames a temporal hash reads per payload: bounds
    * the per-payload decode work against a crafted frame flood (the
    * [[GifMedia.MaxFrames]] convention) while staying far above the
    * 65-window resolution the hash can actually distinguish. */
  val TemporalHashMaxFrames: Int = 256

  /** Mean luma of one decoded frame — the [[dHash64]] pixel arithmetic
    * ((r+g+b)/3.0 per pixel, exact integer-valued double sums for gray
    * frames) pooled over the whole frame. */
  private def meanLuma(img: java.awt.image.BufferedImage): Double = {
    val w = img.getWidth; val h = img.getHeight
    // full-row bulk getRGB — see lumaGrid; values identical
    val row = new Array[Int](w)
    var sum = 0.0; var n = 0L
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val rgb = row(x)
        sum += ((rgb >> 16 & 0xFF) + (rgb >> 8 & 0xFF) + (rgb & 0xFF)) / 3.0
        x += 1; n += 1
      }
      y += 1
    }
    if (n == 0) 0.0 else sum / n
  }

  /**
   * REAL temporal perceptual hash for TIMED VISUAL media — [[aHash64]]'s
   * envelope idea with mean FRAME LUMA as the envelope: the clip's frame
   * sequence splits into 65 equal windows, each reduced to the mean of
   * its frames' mean lumas (per-frame mean via the [[dHash64]] pixel
   * arithmetic — exact and replayable by a no-library fixture generator),
   * and bit `k` is set iff `mean(k) > mean(k+1)` (strict) — 64
   * luma-trajectory gradient signs. Two re-encodes of the same clip hash
   * close; two clips sharing a first frame but diverging later do NOT
   * (the failure mode of frame-0-only [[dHash64]] screening). Supported
   * containers: MJPEG-in-AVI (`video` payloads via [[AviMjpeg]]) and
   * animated GIF (`image` payloads via [[GifMedia]]'s disposal-composited
   * frames). Frames read are capped at [[TemporalHashMaxFrames]] — a
   * loudly-bounded hostile-input ceiling. None for anything unparseable,
   * for still (non-GIF) images (a single frame has no trajectory to
   * sign — [[dHash64]] is the screening hash there), and for any frame
   * that fails to decode — a hash fabricated from partial reads would
   * pair garbage. Clips shorter than 65 frames still hash (shared
   * windows repeat a frame's mean — equal neighbors sign 0, the
   * [[aHash64]] short-clip convention). */
  def tHash64(modality: String, content: Array[Byte]): Option[Long] = {
    val frameMeans: Option[Array[Double]] = modality match {
      case "video" =>
        AviMjpeg.read(content).flatMap { vid =>
          val n = math.min(vid.frameCount, TemporalHashMaxFrames)
          if (n <= 0) None
          else {
            val ms = new Array[Double](n)
            var i = 0; var ok = true
            while (ok && i < n) {
              vid.frame(i) match {
                case Some(img) => ms(i) = meanLuma(img); i += 1
                case None => ok = false
              }
            }
            if (ok) Some(ms) else None
          }
        }
      case "image" if isGif(content) =>
        // one reader, one rolling canvas, each frame decoded once —
        // the per-index compositedFrame loop this replaces re-opened and
        // re-composited per frame (O(run²) over the walk)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
        GifMedia.walkComposited(content, TemporalHashMaxFrames) {
          (_, canvas) => buf += meanLuma(canvas)
        }.flatMap { case (meta, visited) =>
          val n = math.min(meta.frames.length, TemporalHashMaxFrames)
          if (n > 0 && visited == n) Some(buf.toArray) else None
        }
      case _ => None
    }
    frameMeans.map(tHashOfMeans)
  }

  /** The 65-window gradient signing over a per-frame mean-luma sequence —
    * shared by [[tHash64]] and [[videoHashes]]'s single-parse walk. */
  private def tHashOfMeans(ms: Array[Double]): Long = {
    val frames = ms.length
    val means = new Array[Double](65)
    var b = 0
    while (b < 65) {
      val f0 = b * frames / 65
      val f1 = math.min(frames, math.max(f0 + 1, (b + 1) * frames / 65))
      var sum = 0.0; var n = 0L
      var f = f0
      while (f < f1) { sum += ms(f); f += 1; n += 1 }
      means(b) = if (n == 0) 0.0 else sum / n
      b += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (means(k) > means(k + 1)) hash |= (1L << k)
      k += 1
    }
    hash
  }

  /** Per-payload VIDEO perceptual signature pair: `(media_id, thash,
    * dhash)` — the temporal luma-trajectory hash ([[tHash64]]) plus the
    * spatial frame-0 hash ([[dHash64]]), each NULL when its side is
    * unparseable (NULL never pairs). Video dedup blocks on the temporal
    * hash and confirms on the spatial one: temporal alone would pair
    * different clips with the same brightness drift, spatial alone pairs
    * clips that merely share a first frame. The decode cost is
    * O(min(frames, [[TemporalHashMaxFrames]])) JPEG reads per payload —
    * the signature pass is the expensive stage by design, and the slim
    * two-long frame it emits is all the dedup join ever shuffles; media
    * bytes stay in their scan. */
  def videoHashes(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("thash", LongType),
      StructField("dhash", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "modality", "content").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0); val modality = r.getString(1)
        val bytes = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
        // video payloads: parse the container ONCE and decode each frame
        // once — frame 0 feeds both the spatial grid and the first mean
        // (the generic tHash64+dHash64 pair would re-parse and re-decode
        // frame 0; the signature pass is the job's dominant cost)
        val (th, dh) =
          if (modality == "video") videoHashPair(bytes)
          else (tHash64(modality, bytes), dHash64(modality, bytes))
        Row(id, th.map(Long.box).orNull, dh.map(Long.box).orNull)
      }
    }(enc)
  }

  /** Video payload → (temporal tHash, frame-0 spatial dHash) with ONE
    * container parse and one decode per frame — frame 0 feeds both the
    * spatial grid and the first mean (the generic tHash64+dHash64 pair
    * would re-parse and re-decode; the signature pass is the job's
    * dominant cost). A mid-stream undecodable frame voids the TEMPORAL
    * hash (partial trajectories pair garbage) but frame 0's spatial hash
    * stands — dHash64's frame-0-only contract exactly. */
  private def videoHashPair(bytes: Array[Byte]): (Option[Long], Option[Long]) =
    AviMjpeg.read(bytes) match {
      case Some(vid) if vid.frameCount > 0 =>
        val n = math.min(vid.frameCount, TemporalHashMaxFrames)
        val ms = new Array[Double](n)
        var d: Option[Long] = None
        var i = 0; var ok = true
        while (ok && i < n) {
          vid.frame(i) match {
            case Some(img) =>
              if (i == 0) d = Some(dHashOf(img))
              ms(i) = meanLuma(img); i += 1
            case None => ok = false
          }
        }
        (if (ok) Some(tHashOfMeans(ms)) else None, d)
      case _ => (None, None)
    }

  /** Version of the perceptual-hash arithmetic stamped into
    * [[mediaSignatures]] stores as `ms_version` — bump on ANY change to
    * dHash64/aHash64/tHash64 so a store hashed under older arithmetic
    * fails the load instead of silently pairing against incomparable
    * bits. */
  val MediaSigVersion: Int = 1

  /**
   * Persistable perceptual-SIGNATURE store for a media corpus — the
   * [[graft.dedup.Dedup.minhashSignatures]] statement for media: one row
   * per payload carrying the modality's blocking hash (`sig` = image
   * dHash / audio aHash / video temporal tHash) plus video's spatial
   * confirm hash (`sig2` = frame-0 dHash; NULL for other modalities),
   * stamped with the payload's `modality` and the hash-arithmetic
   * version. Write it after corpus build N; run N+1 re-loads the parquet
   * and passes it to `dedup_image`/`dedup_audio`/`dedup_video` via
   * `signatureView` — the increment then dedups against history without
   * re-parsing a single historical container (the signature pass — one
   * parse + O(min(frames, 256)) decodes per payload — is the job's
   * dominant cost, and it never repeats). Undecodable payloads store
   * NULL hashes and never pair, the dedup transforms' contract. ONE
   * parse per payload (video's two hashes come out of the same walk);
   * only the slim (id, sig, sig2) frame ever leaves the scan.
   */
  def mediaSignatures(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("modality", StringType),
      StructField("sig", LongType),
      StructField("sig2", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "modality", "content").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0); val modality = r.getString(1)
        val bytes = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
        val (sig, sig2): (Option[Long], Option[Long]) = modality match {
          case "audio" => (aHash64(bytes), None)
          case "video" => videoHashPair(bytes)
          case _       => (dHash64(modality, bytes), None)
        }
        Row(id, modality, sig.map(Long.box).orNull, sig2.map(Long.box).orNull)
      }
    }(enc).withColumn("ms_version", lit(MediaSigVersion))
  }

  /** Load + validate a persisted [[mediaSignatures]] store for a
    * `wantModality` dedup pass ([[graft.operators.Stores.check]]: a hash
    * version this engine doesn't compute, or rows of another modality —
    * an image store fed to dedup_audio would pair dHashes against aHashes
    * — fail with guidance). Returns the slim (doc_id, sig, sig2) frame;
    * the caller never touches history's payload bytes. */
  def loadMediaSignatures(store: DataFrame, wantModality: String): DataFrame = {
    graft.operators.Stores.check(store, graft.operators.Stores.MediaSignatures,
      MediaSigVersion, wantModality)
    store.select(col("doc_id").cast("long").as("doc_id"),
      col("sig").cast("long").as("sig"),
      col("sig2").cast("long").as("sig2"))
  }

  /** Per-payload quality signals: dims/duration plus the modality's
    * scoring columns (visual: brightness/contrast/sharpness; audio:
    * rms/clip_frac/silence_frac); the inapplicable side is NULL.
    *
    * `width`/`height` are OVERLOADED by modality: pixels for visual
    * payloads, but `sample rate (Hz)` / `channel count` for audio — the
    * two decode-shape integers the modality actually has, reused so the
    * generic `width > 0` decode gate covers every modality with one
    * predicate. A consumer reading mixed-modality frames must branch on
    * `modality` before interpreting them as pixels. */
  val signalSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("brightness", DoubleType),
    StructField("contrast", DoubleType),
    StructField("sharpness", DoubleType),
    StructField("rms", DoubleType),
    StructField("clip_frac", DoubleType),
    StructField("silence_frac", DoubleType)))

  /** (brightness, contrast, sharpness) of one decoded still — the
    * [[dHash64]] pixel arithmetic: brightness = mean luma (0..255),
    * contrast = population stddev of luma, sharpness = mean |horizontal
    * luma gradient| (a blur proxy: soft re-encodes and upscales flatten
    * it; 0 for single-column images). Integer-valued double sums are
    * exact (≤ 2^53), divided once — replayable by a no-library fixture
    * generator. */
  private def visualSignals(img: java.awt.image.BufferedImage)
      : (Double, Double, Double) = {
    val w = img.getWidth; val h = img.getHeight
    // full-row bulk getRGB — see lumaGrid; values identical
    val row = new Array[Int](w)
    var sum = 0.0; var sumSq = 0.0; var gsum = 0.0
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0; var prev = 0.0
      while (x < w) {
        val rgb = row(x)
        val l = ((rgb >> 16 & 0xFF) + (rgb >> 8 & 0xFF) + (rgb & 0xFF)) / 3.0
        sum += l; sumSq += l * l
        if (x > 0) gsum += math.abs(l - prev)
        prev = l
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    val mean = sum / n
    val contrast = math.sqrt(math.max(0.0, sumSq / n - mean * mean))
    val sharpness = if (w > 1) gsum / ((w - 1).toLong * h) else 0.0
    (mean, contrast, sharpness)
  }

  /**
   * Per-payload QUALITY SIGNALS — the [[graft.operators.TextSignalsTransform]]
   * idea for media, the score→gate shape a crawl-media curation pipeline
   * runs before spending decode/embedding budget downstream:
   *
   *  - visual payloads (image / animated-GIF composite / MJPEG-AVI frame
   *    0 via [[decodeStill]]): `brightness` (mean luma — near-black /
   *    blown-out screens), `contrast` (luma population stddev — flat
   *    color cards score ~0), `sharpness` (mean |horizontal luma
   *    gradient| — the blur proxy); `duration_ms` from the GIF delay sum
   *    or the AVI strh clock (0 for stills).
   *  - audio payloads (PCM16 via [[WavPcmDecoder.parsePcm16]], channels
   *    pooled): `rms` (mean power, 0..1 of int16 full scale — silence
   *    screens ~0), `clip_frac` (fraction of samples at |s| ≥ `clipAbs`
   *    — hard-clipped rips), `silence_frac` (fraction at |s| <
   *    `silenceAbs` — dead air). For audio rows `width` carries the
   *    SAMPLE RATE and `height` the CHANNEL COUNT (see [[signalSchema]])
   *    — the overload that keeps `width > 0` a modality-generic
   *    decoded-OK gate.
   *
   * Undecodable payloads report the honest `(-1, -1, 0, NULL…)` sentinel
   * — a quality gate drops or routes them EXPLICITLY, never on fabricated
   * scores. One zero-shuffle partition-wise pass; the slim numeric frame
   * it emits is what downstream gates join/filter on, media bytes stay
   * in their scan. */
  def mediaSignals(media: DataFrame, silenceAbs: Int = 328,
                   clipAbs: Int = 32704): DataFrame = {
    require(silenceAbs >= 0 && clipAbs > silenceAbs && clipAbs <= 32768,
      s"mediaSignals: need 0 <= silenceAbs < clipAbs <= 32768, got " +
        s"silenceAbs=$silenceAbs clipAbs=$clipAbs")
    val enc = org.apache.spark.sql.Encoders.row(signalSchema)
    media.select("media_id", "modality", "content").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0); val modality = r.getString(1)
        val bytes = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
        val (w, h, dur, vis, aud) =
          if (modality == "audio") {
            WavPcmDecoder.parsePcm16(bytes) match {
              case Some((rate, channels, bigEndian, pcm))
                  if rate > 0 && channels > 0 && pcm.length >= channels * 2 =>
                val frameBytes = channels * 2
                val frames = pcm.length / frameBytes
                val n = frames.toLong * channels
                var sumSq = 0.0; var clipped = 0L; var silent = 0L
                var i = 0
                while (i < frames * channels) {
                  val off = i * 2
                  val s =
                    if (bigEndian) (pcm(off) << 8) | (pcm(off + 1) & 0xFF)
                    else (pcm(off + 1) << 8) | (pcm(off) & 0xFF)
                  val a = math.abs(s)
                  sumSq += s.toDouble * s
                  if (a >= clipAbs) clipped += 1
                  if (a < silenceAbs) silent += 1
                  i += 1
                }
                (rate, channels, frames.toLong * 1000L / rate, None,
                  Some((math.sqrt(sumSq / n) / 32768.0,
                    clipped.toDouble / n, silent.toDouble / n)))
              case _ => (-1, -1, 0L, None, None)
            }
          } else modality match {
            // timed visual payloads parse their container ONCE: frame 0
            // and the clock duration come out of the same walk (the
            // decodeStill-then-reparse-for-duration form ran the full
            // RIFF/GIF metadata scan twice per row)
            case "video" =>
              AviMjpeg.read(bytes).flatMap(v => v.frame(0).map(img =>
                (img.getWidth, img.getHeight, v.durationMs,
                  Option(visualSignals(img))))) match {
                case Some((vw, vh, d, s)) => (vw, vh, d, s, None)
                case None => (-1, -1, 0L, None, None)
              }
            case "image" if isGif(bytes) =>
              var sig: Option[(Double, Double, Double)] = None
              var dims = (-1, -1)
              GifMedia.walkComposited(bytes, 1) { (_, canvas) =>
                dims = (canvas.getWidth, canvas.getHeight)
                sig = Some(visualSignals(canvas))
              } match {
                case Some((meta, visited)) if visited >= 1 =>
                  (dims._1, dims._2, meta.durationMs, sig, None)
                case _ => (-1, -1, 0L, None, None)
              }
            case _ => decodeStill(modality, bytes) match {
              case Some(img) =>
                (img.getWidth, img.getHeight, 0L,
                  Some(visualSignals(img)), None)
              case None => (-1, -1, 0L, None, None)
            }
          }
        Row(id, modality, w, h, dur,
          vis.map(v => Double.box(v._1)).orNull,
          vis.map(v => Double.box(v._2)).orNull,
          vis.map(v => Double.box(v._3)).orNull,
          aud.map(a => Double.box(a._1)).orNull,
          aud.map(a => Double.box(a._2)).orNull,
          aud.map(a => Double.box(a._3)).orNull)
      }
    }(enc)
  }

  /** One sampled frame: (media_id, frame_idx, ts_ms, frame bytes). */
  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("ts_ms", LongType, nullable = false),
    StructField("frame", BinaryType)))

  trait FrameSampler extends Serializable {
    /** Extract the frame nearest `tsMs` from a video/audio payload. */
    def frameAt(modality: String, content: Array[Byte], tsMs: Long): Array[Byte]

    /** Batched [[frameAt]] over one payload's whole sampling grid, so an
      * implementation can parse the container ONCE per payload instead of
      * once per timestamp (the [[sampleFrames]] hot path). Element i MUST
      * equal `frameAt(modality, content, tss(i))`; the default delegates
      * element-wise, so custom samplers keep their exact behavior. The
      * iterator is consumed streamwise — implementations should keep at
      * most one decoded frame resident, or a retained buffer bounded by
      * an explicit byte cap with a fallback to the per-timestamp path
      * (see [[ImageFrameSampler.MaxRetainedFrameBytes]]). */
    def framesAt(modality: String, content: Array[Byte],
                 tss: Array[Long]): Iterator[Array[Byte]] =
      tss.iterator.map(frameAt(modality, content, _))
  }

  /** STUB sampler: hash-derived deterministic fake frame bytes. */
  object StubFrameSampler extends FrameSampler {
    def frameAt(modality: String, content: Array[Byte], tsMs: Long): Array[Byte] = {
      val h = byteFold(tsMs * 1125899906842597L, content)
      Array.tabulate(32)(j => ((h >> (j % 56)) & 0xFF).toByte)
    }
  }

  /** A STILL image is its only frame: the payload comes back verbatim
    * (duration 0 means exactly one frame at ts 0). An ANIMATED GIF
    * samples its REAL frames AS DISPLAYED: the frame whose delay window
    * contains `tsMs` (past the end → the last frame), composited per the
    * GIF disposal model ([[GifMedia.compositedFrame]] — an optimized
    * partial-rect frame samples as the full composed still, not a
    * fragment) and re-encoded as PNG — each emitted frame is a
    * standalone still the rest of the image pipeline (decode, resize)
    * consumes directly. frameAt re-reads the container per sampled ts
    * (the iterator-to-iterator shape holds no per-payload cache): frame
    * selection is a metadata-only walk, and compositing decodes from the
    * last canvas-covering frame — O(1) decodes per sample for full-frame
    * GIFs, one canvas + one frame resident either way; a JNI/FFmpeg
    * sampler would swap in with per-payload state. VIDEO samples REAL
    * MJPEG-AVI frames ([[AviMjpeg]]: metadata-only chunk index, one
    * JPEG decoded per sample, the frame on screen at `tsMs` per the
    * strh clock). AUDIO samples REAL PCM windows: an audio "frame" is
    * the [[AudioFrameWindowMs]]-long sample window starting at `tsMs`
    * (clamped to the payload), re-assembled as a standalone PCM16 WAV
    * at the source rate/channels — each emitted frame is a playable
    * clip the rest of the audio pipeline (decode, resample) consumes
    * directly. Unparseable payloads come back verbatim (the
    * undecodable-GIF convention); only modality strings outside
    * image/audio/video reach [[StubFrameSampler]]. */
  object ImageFrameSampler extends FrameSampler {
    /** Length of an audio "frame": the 1-second window is the
      * conventional unit for clip-level features (ASR/audio-tagging
      * pipelines window at 0.96–1 s); windows past the payload end
      * clamp to the remaining samples. */
    val AudioFrameWindowMs = 1000L

    /** Byte cap on the PNGs the batched GIF walk may retain before
      * emission (the walk visits frames in container order while the
      * sampling grid may need many of them; emission starts after the
      * walk). Past the cap the walk aborts and the grid falls back to
      * the per-timestamp path — exact same frames, one resident at a
      * time, at O(samples × run length) decode cost. */
    val MaxRetainedFrameBytes: Long = 64L * 1024 * 1024
    private val RetainCapAbort: RuntimeException =
      new RuntimeException("gif framesAt retained-bytes cap exceeded")
        with scala.util.control.NoStackTrace
    /** Flatten to plain RGB and PNG-encode — shared by the GIF and AVI
      * paths: the JDK PNG writer mangles INDEXED frames (measured: raw
      * palette indices written as gray samples — pixel 47 came back
      * 119), and flattening an ARGB canvas makes undrawn pixels black —
      * the same "transparent = luma 0" convention the decoder's grid
      * uses. */
    private def pngStill(f: java.awt.image.BufferedImage): Array[Byte] = {
      val rgb = new java.awt.image.BufferedImage(
        f.getWidth, f.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = rgb.createGraphics()
      try g.drawImage(f, 0, 0, null) finally g.dispose()
      encodePng(rgb)
    }

    /** One container parse per payload (the batched contract): video
      * parses the AVI index once and decodes each DISTINCT frame index
      * once (`frameIndexAt` is monotone in ts, so repeats are adjacent —
      * a one-slot memo suffices and memory stays one frame); animated
      * GIFs run ONE composited walk for the whole grid (the per-timestamp
      * path re-opens the reader and re-composites from the last cover
      * frame — O(samples × run length) frame decodes). Every element is
      * exactly `frameAt(modality, content, tss(i))`: same decode, same
      * PNG encode; the GIF walk equals compositedFrame per index (pinned
      * by spec), and any mid-walk decode failure falls back to the
      * per-timestamp path, which can recover past a corrupt frame via a
      * later cover-frame restart. */
    override def framesAt(modality: String, content: Array[Byte],
                          tss: Array[Long]): Iterator[Array[Byte]] = {
      if (tss.isEmpty) return Iterator.empty
      if (modality == "video") {
        AviMjpeg.read(content) match {
          case None => return tss.iterator.map(_ => content)
          case Some(v) =>
            var lastIdx = -1
            var lastPng: Array[Byte] = null
            return tss.iterator.map { ts =>
              val idx = v.frameIndexAt(ts)
              if (idx != lastIdx) {
                lastIdx = idx
                lastPng = v.frame(idx).map(pngStill).getOrElse(content)
              }
              lastPng
            }
        }
      }
      if (modality != "image" || !isGif(content))
        return tss.iterator.map(frameAt(modality, content, _))
      GifMedia.readMeta(content) match {
        case None => tss.iterator.map(_ => content) // undecodable: verbatim
        case Some(meta) =>
          val idxs: Array[Int] = tss.map { ts =>
            var idx = 0; var cum = 0L
            while (idx < meta.frames.length - 1 &&
                cum + meta.frames(idx).delayMs <= ts) {
              cum += meta.frames(idx).delayMs; idx += 1
            }
            idx
          }
          val need = idxs.toSet
          val maxNeed = idxs.max
          val got = scala.collection.mutable.HashMap.empty[Int, Array[Byte]]
          // BOUNDED retention: the batched walk buffers one PNG per
          // distinct needed frame before emission — up to maxFrames
          // stills of canvases up to MaxCanvasPixels, a multi-GB worst
          // case per task on hostile inputs. Past the byte cap, abort
          // the walk (the control throw reads as a mid-walk decode
          // failure) and serve the grid through the exact per-timestamp
          // path, which holds one canvas + one frame at a time.
          var retainedBytes = 0L
          GifMedia.walkComposited(content, maxNeed + 1) { (i, canvas) =>
            if (need(i)) {
              val png = pngStill(canvas)
              retainedBytes += png.length
              if (retainedBytes > MaxRetainedFrameBytes) throw RetainCapAbort
              got(i) = png
            }
          } match {
            case Some((_, visited)) if visited >= maxNeed + 1 =>
              idxs.iterator.map(got(_))
            case _ => // parse/decode failure or retention-cap abort: the
              // exact per-ts semantics, one frame resident at a time
              tss.iterator.map(frameAt(modality, content, _))
          }
      }
    }

    def frameAt(modality: String, content: Array[Byte], tsMs: Long): Array[Byte] = {
      if (modality == "video") {
        // each emitted frame is a standalone PNG still; unparseable
        // payloads come back verbatim (the undecodable-GIF convention)
        return AviMjpeg.read(content)
          .flatMap(v => v.frame(v.frameIndexAt(tsMs)))
          .map(pngStill).getOrElse(content)
      }
      if (modality == "audio") return audioWindow(content, tsMs)
      // unknown modality: verbatim (the degrade-gracefully convention) —
      // a custom modality wires a custom [[FrameSampler]]
      if (modality != "image") return content
      if (!isGif(content)) return content
      GifMedia.readMeta(content) match {
        case None => content // undecodable GIF: verbatim, like a still
        case Some(meta) =>
          var idx = 0; var cum = 0L
          while (idx < meta.frames.length - 1 &&
              cum + meta.frames(idx).delayMs <= tsMs) {
            cum += meta.frames(idx).delayMs; idx += 1
          }
          GifMedia.compositedFrame(content, idx) match {
            case None => content
            case Some(f) => pngStill(f)
          }
      }
    }

    /** The REAL audio frame: PCM sample frames
      * `[ts·rate/1000, min(frames, start + rate·WindowMs/1000))`
      * (start clamped to the last frame, so every timestamp the duration
      * grid emits yields a non-empty clip) re-assembled as a standalone
      * little-endian PCM16 WAV at the source rate/channels — samples go
      * through the decoder's accessor, so big-endian sources (AIFF/AU)
      * emit the same values. Unparseable payloads: verbatim. */
    private def audioWindow(content: Array[Byte], tsMs: Long): Array[Byte] = {
      val parsed = WavPcmDecoder.parsePcm16(content)
      if (parsed.isEmpty) return content
      val (rate, channels, bigEndian, bytes) = parsed.get
      val frameBytes = channels * 2
      val frames = bytes.length / frameBytes
      if (rate <= 0 || channels <= 0 || frames == 0) return content
      val start = math.min(frames - 1L,
        math.max(0L, tsMs) * rate / 1000L).toInt
      val end = math.min(frames.toLong,
        start + AudioFrameWindowMs * rate / 1000L).toInt
      val n = math.max(1, end - start)
      def sample(frame: Int, ch: Int): Int = {
        val i = (frame * channels + ch) * 2
        if (bigEndian) (bytes(i) << 8) | (bytes(i + 1) & 0xFF)
        else (bytes(i + 1) << 8) | (bytes(i) & 0xFF)
      }
      val dataLen = n * channels * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort)
        .putInt(rate).putInt(rate * channels * 2)
        .putShort((channels * 2).toShort).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      var f = start
      while (f < start + n) {
        var c = 0
        while (c < channels) { buf.putShort(sample(f, c).toShort); c += 1 }
        f += 1
      }
      buf.array()
    }
  }

  /** Deterministic synthetic grayscale PNG — the scaffolding both the q31
    * verify query and its INDEPENDENT golden-fixture generator derive
    * from: pixel (x, y) has r = g = b = (seed·31 + x·7 + y·13) mod 256.
    * The fixture side (tools/gen_golden_q31.py) computes dimensions and
    * the 4×4 luma grid straight from this formula WITHOUT any PNG
    * library, so the query's PNG-encode → [[ImageIODecoder]] round-trip
    * only matches if the decode is genuinely reading pixels. */
  def syntheticImagePng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // one bulk setRGB — per-pixel setRGB pays a ColorModel dispatch per
    // call; same sRGB values
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = java.lang.Math.floorMod(seed * 31 + x * 7 + y * 13, 256L).toInt
        px(y * w + x) = (v << 16) | (v << 8) | v
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    encodePng(img)
  }

  /**
   * Frame sampling for video/audio payloads: one output row per
   * `everyMs`-spaced timestamp within the decoded duration (images yield
   * one frame at ts 0). flatMap-shaped iterator-to-iterator — the 1→N
   * explode happens streamwise, so a long video never materializes all its
   * frames at once in memory.
   */
  def sampleFrames(media: DataFrame, everyMs: Long, maxFrames: Int = 64,
                   decoder: MediaDecoder = ImageIODecoder,
                   sampler: FrameSampler = ImageFrameSampler): DataFrame = {
    require(everyMs > 0, "everyMs must be positive")
    // maxFrames <= 0 would silently emit ZERO rows for every payload —
    // the pipeline "succeeds" having dropped the whole dataset
    require(maxFrames > 0, s"maxFrames must be positive, got $maxFrames")
    val enc = org.apache.spark.sql.Encoders.row(frameSchema)
    media.select("media_id", "modality", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0); val modality = r.getString(1)
        val bytes = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
        // STILL images have no time axis — skip the full ImageIO decode +
        // luma scan that would only be thrown away to read durMs = 0;
        // animated GIFs (magic-sniffed) carry real durations and go
        // through the decoder like any timed medium
        val durMs =
          if (modality == "image" && !isGif(bytes)) 0L
          else decoder.decode(modality, bytes)._3
        val n = math.min(maxFrames.toLong, durMs / everyMs + 1).toInt
        // batched sampler: ONE container parse per payload for the whole
        // grid (framesAt contract) instead of one frameAt parse per ts
        val tss = Array.tabulate(n)(idx => idx * everyMs)
        sampler.framesAt(modality, bytes, tss).zipWithIndex.map {
          case (frame, idx) => Row(id, idx, tss(idx), frame)
        }
      }
    }(enc)
  }
}
