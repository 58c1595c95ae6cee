package graft.multimodal

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val media = Multimodal.asMediaFrame(
    Seq((1L, "payload-one", "s3://bucket/a.jpg"),
        (2L, "payload-two", "s3://bucket/b.jpg"),
        (3L, "payload-one", "s3://bucket/c.jpg"))
      .toDF("id", "body", "uri")
      .select(col("id"), encode(col("body"), "UTF-8").as("bytes"), col("uri")),
    "id", "bytes", "image", "uri")

  test("media frame carries binary payload + typed metadata") {
    media.schema.simpleString shouldBe Multimodal.mediaSchema.simpleString
    val m = media.where("media_id = 1").select("meta.n_bytes", "meta.content_type")
      .as[(Long, String)].head()
    m shouldBe ((11L, "application/x-image"))
  }

  test("partition-wise feature extraction: schema, determinism, payload-" +
    "dependence (stub decoder — plumbing contract)") {
    val feats = Multimodal.extractFeatures(media, Multimodal.StubDecoder)
    feats.schema shouldBe Multimodal.featureSchema
    val rows = feats.orderBy("media_id").collect()
    rows should have size 3
    // same payload → same fake decode; different payload → different
    rows(0).getAs[Seq[Float]]("feature") shouldBe rows(2).getAs[Seq[Float]]("feature")
    rows(0).getAs[Seq[Float]]("feature") should not be rows(1).getAs[Seq[Float]]("feature")
    all(rows.map(_.getAs[Int]("width"))) should be >= 64
    all(rows.map(_.getAs[Long]("duration_ms"))) shouldBe 0L // images
  }

  test("REAL image decode: true dimensions and 4x4 mean-luma grid from an " +
    "actual PNG; undecodable image payloads get the -1 sentinel") {
    // a 16x16 all-gray(100) image: every luma cell is exactly 100
    val flat = Multimodal.syntheticImagePng(0, 16, 16) // pattern varies — use custom
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, (100 << 16) | (100 << 8) | 100)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val gray = bos.toByteArray
    val frame = Multimodal.asMediaFrame(
      Seq((1L, gray, "mem://gray"), (2L, flat, "mem://pattern"),
          (3L, "not a png".getBytes("UTF-8"), "mem://junk"))
        .toDF("id", "bytes", "uri"),
      "id", "bytes", "image", "uri")
    val rows = Multimodal.extractFeatures(frame).orderBy("media_id").collect()
    rows(0).getAs[Int]("width") shouldBe 16
    rows(0).getAs[Int]("height") shouldBe 16
    rows(0).getAs[Seq[Float]]("feature") shouldBe Seq.fill(16)(100f)
    // deterministic pattern: spot-check cell (0,0) = mean of v(x,y),
    // x,y in [0,4): (0*31 + 7x + 13y) % 256
    val expect00 = (for (y <- 0 until 4; x <- 0 until 4)
      yield (7 * x + 13 * y) % 256).sum / 16.0
    rows(1).getAs[Seq[Float]]("feature").head shouldBe expect00.toFloat
    // junk bytes under the image modality: loud sentinel, not fake dims
    rows(2).getAs[Int]("width") shouldBe -1
    rows(2).getAs[Seq[Float]]("feature") shouldBe empty
    // REAL resize: re-encoded PNG decodes to exactly the target dims;
    // image frame-sampling returns the payload verbatim as the one frame
    val resized = Multimodal.resize(frame.where("media_id = 2"), 32, 24)
    val rr = Multimodal.extractFeatures(resized).collect().head
    rr.getAs[Int]("width") shouldBe 32
    rr.getAs[Int]("height") shouldBe 24
    val fr = Multimodal.sampleFrames(frame.where("media_id = 2"), everyMs = 1000)
      .collect()
    fr should have size 1
    fr.head.getAs[Array[Byte]]("frame") shouldBe flat
  }

  test("REAL audio decode: rate/channels/duration and 16-bin amplitude " +
    "envelope from an actual PCM16 WAV; undecodable payloads get the -1 sentinel") {
    // a constant-amplitude mono wave: every envelope bin is exactly
    // |v|/32768 — build the PCM by hand, not via the synthetic generator,
    // so the expected value needs no formula replication
    val nFrames = 1600
    val buf = java.nio.ByteBuffer.allocate(44 + nFrames * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + nFrames * 2)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(16000).putInt(32000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(nFrames * 2)
    (0 until nFrames).foreach(i => buf.putShort(if (i % 2 == 0) 1024 else -1024))
    val constant = buf.array()
    val synthetic = Multimodal.syntheticWavPcm16(5L, 10000, 2, 900)
    val frame = Multimodal.asMediaFrame(
      Seq((1L, constant, "mem://const"), (2L, synthetic, "mem://synth"),
          (3L, "not a wav".getBytes("UTF-8"), "mem://junk"))
        .toDF("id", "bytes", "uri"),
      "id", "bytes", "audio", "uri")
    val rows = Multimodal.extractFeatures(frame).orderBy("media_id").collect()
    rows(0).getAs[Int]("width") shouldBe 16000       // sample rate
    rows(0).getAs[Int]("height") shouldBe 1          // channels
    rows(0).getAs[Long]("duration_ms") shouldBe 100L // 1600/16000 s
    rows(0).getAs[Seq[Float]]("feature") shouldBe
      Seq.fill(16)((1024.0 / 32768.0).toFloat)
    // the synthetic generator roundtrips its declared geometry
    rows(1).getAs[Int]("width") shouldBe 10000
    rows(1).getAs[Int]("height") shouldBe 2
    rows(1).getAs[Long]("duration_ms") shouldBe 90L
    // spot-check envelope bin 0 against the sample formula: frames
    // [0, 56), channels pooled, |((5*31 + 7i + 11c) % 4096) - 2048|
    val expect0 = {
      val vals = for (i <- 0 until (900 / 16); c <- 0 until 2)
        yield math.abs(java.lang.Math.floorMod(5L * 31 + i * 7 + c * 11, 4096L).toInt - 2048)
      ((vals.sum.toDouble / vals.size) / 32768.0).toFloat
    }
    rows(1).getAs[Seq[Float]]("feature").head shouldBe expect0
    // junk bytes under the audio modality: loud sentinel, not fake dims
    rows(2).getAs[Int]("width") shouldBe -1
    rows(2).getAs[Seq[Float]]("feature") shouldBe empty
    // audio frame sampling: real duration drives the 50ms grid
    Multimodal.sampleFrames(frame.where("media_id = 1"), everyMs = 50)
      .count() shouldBe 3L // 0, 50, 100 ms
    // a non-PCM16 encoding (8-bit) is refused with the sentinel, never
    // misread: flip bits-per-sample in a copy of the constant wave
    val eightBit = constant.clone()
    eightBit(34) = 8 // fmt chunk bitsPerSample LE low byte
    val r8 = Multimodal.extractFeatures(Multimodal.asMediaFrame(
        Seq((9L, eightBit, "mem://8bit")).toDF("id", "bytes", "uri"),
        "id", "bytes", "audio", "uri")).collect().head
    r8.getAs[Int]("width") shouldBe -1
  }

  test("REAL audio resample: rate conversion by linear interpolation, " +
    "channel mixdown/duplication, duration preserved, re-decodable") {
    // constant-amplitude mono 16 kHz, 100 ms (1600 frames), value 1024
    val nFrames = 1600
    val buf = java.nio.ByteBuffer.allocate(44 + nFrames * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + nFrames * 2)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(16000).putInt(32000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(nFrames * 2)
    (0 until nFrames).foreach(_ => buf.putShort(1024))
    val mono16k = buf.array()
    val media = Multimodal.asMediaFrame(
      Seq((1L, mono16k, "mem://a")).toDF("id", "bytes", "uri"),
      "id", "bytes", "audio", "uri")
    // resample to 8 kHz stereo: (targetW, targetH) = (rate, channels)
    val out = Multimodal.extractFeatures(Multimodal.resize(media, 8000, 2))
      .collect().head
    out.getAs[Int]("width") shouldBe 8000
    out.getAs[Int]("height") shouldBe 2
    out.getAs[Long]("duration_ms") shouldBe 100L // duration preserved
    // a constant wave survives interpolation and mixdown exactly
    out.getAs[Seq[Float]]("feature") shouldBe
      Seq.fill(16)((1024.0 / 32768.0).toFloat)
    // interpolation arithmetic on a LINEAR ramp (interp of linear is
    // exact): 0..99 at 1 kHz down to 500 Hz → every other sample
    val ramp = {
      val b = java.nio.ByteBuffer.allocate(44 + 100 * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + 200)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
        .putInt(1000).putInt(2000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(200)
      (0 until 100).foreach(i => b.putShort(i.toShort))
      b.array()
    }
    val down = Multimodal.WavPcmResizer.resize("audio", ramp, 500, 1)
    val parsed = Multimodal.WavPcmDecoder.parsePcm16(down).get
    parsed._1 shouldBe 500
    val samples = (0 until 50).map { j =>
      val i = j * 2
      ((parsed._4(i + 1) << 8) | (parsed._4(i) & 0xFF)).toShort.toInt
    }
    // the anti-aliasing FIR is symmetric with EXACT integer-sum DC
    // normalization, so a linear ramp passes through EXACTLY in the
    // interior (first moment is zero by tap symmetry); only the
    // clamp-replicated edge region (K source samples wide) may deviate,
    // and then only slightly
    val k = Multimodal.WavPcmResizer.FilterHalfWidth
    val interior = (k / 2) until (50 - k / 2 - 1)
    interior.foreach { j => samples(j) shouldBe j * 2 }
    samples.indices.foreach { j => math.abs(samples(j) - j * 2) should be <= 5 }
    // stereo→mono mixdown averages channels: ch0=1000, ch1=3000 → 2000
    val stereo = {
      val b = java.nio.ByteBuffer.allocate(44 + 100 * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + 400)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(2)
        .putInt(1000).putInt(4000).putShort(4).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(400)
      (0 until 100).foreach { _ => b.putShort(1000); b.putShort(3000) }
      b.array()
    }
    val monoOut = Multimodal.WavPcmResizer.resize("audio", stereo, 1000, 1)
    val mp = Multimodal.WavPcmDecoder.parsePcm16(monoOut).get
    ((mp._4(1) << 8) | (mp._4(0) & 0xFF)).toShort.toInt shouldBe 2000
    // undecodable audio degrades to the stub resizer, never an exception
    Multimodal.WavPcmResizer.resize("audio",
      "not audio".getBytes("UTF-8"), 8000, 1).length should be > 0
    // ANTI-ALIASING: a tone ABOVE the target Nyquist must be attenuated,
    // not folded into the band at full amplitude; a tone BELOW it passes.
    // 8 kHz source → 6 kHz target (Nyquist 3000 Hz): 3500 Hz would alias
    // to 2500 Hz unfiltered (mean |x| ≈ 2/π · A ≈ 1273 for A = 2000).
    def tone(hz: Double): Array[Byte] = {
      val n = 2000
      val b = java.nio.ByteBuffer.allocate(44 + n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(n * 2)
      (0 until n).foreach { i =>
        b.putShort(math.round(2000 * math.sin(2 * math.Pi * hz * i / 8000)).toShort)
      }
      b.array()
    }
    def meanAbs(wav: Array[Byte]): Double = {
      val p = Multimodal.WavPcmDecoder.parsePcm16(wav).get
      val n = p._4.length / 2
      (0 until n).map { i =>
        math.abs(((p._4(2 * i + 1) << 8) | (p._4(2 * i) & 0xFF)).toShort.toInt)
      }.sum.toDouble / n
    }
    val aliasOut = Multimodal.WavPcmResizer.resize("audio", tone(3500), 6000, 1)
    meanAbs(aliasOut) should be < 320.0 // ≥ 12 dB down vs the 1273 fold-in
    val passOut = Multimodal.WavPcmResizer.resize("audio", tone(1000), 6000, 1)
    meanAbs(passOut) should be > 1000.0 // in-band content survives
    // the declarative transform refuses the image-pixel defaults for
    // audio (224x224 would silently mean "224 Hz, 224 channels")
    import graft.config.TransformConfig
    import graft.api.RunContext
    val ctx = RunContext(spark, "mm", "t")
    val raw = Seq((1L, mono16k)).toDF("id", "bytes")
    def t(opts: (String, String)*) = TransformConfig("mm", "multimodal", opts.toMap)
    (the[graft.api.ConfigException] thrownBy graft.operators.MultimodalTransform(
      raw, t("operation" -> "resize", "idColumn" -> "id",
        "bytesColumn" -> "bytes", "modality" -> "audio"), ctx))
      .getMessage should include ("sampleRate/channels")
    (the[graft.api.ConfigException] thrownBy graft.operators.MultimodalTransform(
      raw, t("operation" -> "resize", "idColumn" -> "id",
        "bytesColumn" -> "bytes", "modality" -> "audio",
        "targetW" -> "8000", "targetH" -> "224"), ctx))
      .getMessage should include ("[1, 16]")
    // and runs with honest audio targets
    graft.operators.MultimodalTransform(raw,
      t("operation" -> "resize", "idColumn" -> "id", "bytesColumn" -> "bytes",
        "modality" -> "audio", "targetW" -> "8000", "targetH" -> "1"), ctx)
      .count() shouldBe 1L
    // non-numeric numeric options fail as ConfigException-with-guidance,
    // not a raw NumberFormatException from inside the operator
    for ((op, key, bad) <- Seq(
        ("resize", "targetH", "two"), ("resize", "targetW", "224px"),
        ("frames", "everyMs", "1s"), ("frames", "maxFrames", "many"))) {
      (the[graft.api.ConfigException] thrownBy graft.operators.MultimodalTransform(
        raw, t("operation" -> op, "idColumn" -> "id", "bytesColumn" -> "bytes",
          "modality" -> "audio", "targetW" -> "8000", "targetH" -> "1",
          key -> bad), ctx))
        .getMessage should include (s"$key must be an integer")
    }
  }

  test("REAL animated-GIF decode: duration from frame delays, frame " +
    "sampling returns the RIGHT frame's pixels; stills keep duration 0") {
    // 3 frames × 50 cs = 1500 ms; frame f pixel (x,y) = (7x+13y+17f)%256
    val gif = Multimodal.syntheticAnimatedGif(0L, 8, 8, nFrames = 3, delayCs = 50)
    val still = Multimodal.syntheticImagePng(0, 8, 8)
    val frame = Multimodal.asMediaFrame(
      Seq((1L, gif, "mem://anim"), (2L, still, "mem://still"))
        .toDF("id", "bytes", "uri"),
      "id", "bytes", "image", "uri")
    val rows = Multimodal.extractFeatures(frame).orderBy("media_id").collect()
    rows(0).getAs[Int]("width") shouldBe 8
    rows(0).getAs[Long]("duration_ms") shouldBe 1500L
    rows(1).getAs[Long]("duration_ms") shouldBe 0L // stills stay timeless
    // frame-0 luma from the formula: cell (0,0) = mean over x,y in [0,2)
    val expect00 = (for (y <- 0 until 2; x <- 0 until 2)
      yield (7 * x + 13 * y) % 256).sum / 4.0
    rows(0).getAs[Seq[Float]]("feature").head shouldBe expect00.toFloat
    // sampling at 500 ms strides over a 1500 ms clip: the grid is
    // dur/every + 1 points (0, 500, 1000, 1500 — the operator's
    // established contract, endpoint included); decoding each emitted
    // PNG recovers the RIGHT frame's formula, the endpoint clamping to
    // the last frame
    val sampled = Multimodal.sampleFrames(frame.where("media_id = 1"),
      everyMs = 500).orderBy("frame_idx").collect()
    sampled.map(_.getAs[Long]("ts_ms")).toSeq shouldBe
      Seq(0L, 500L, 1000L, 1500L)
    sampled.foreach { r =>
      val f = math.min(2L, r.getAs[Long]("ts_ms") / 500L).toInt
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("frame")))
      // pixel (3, 2) of frame f: (7*3 + 13*2 + 17*f) % 256, grayscale
      (img.getRGB(3, 2) & 0xFF) shouldBe (7 * 3 + 13 * 2 + 17 * f) % 256
    }
    // past-the-end timestamps clamp to the LAST frame (never an exception)
    val last = Multimodal.ImageFrameSampler.frameAt("image", gif, 99999L)
    val lastImg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(last))
    (lastImg.getRGB(0, 0) & 0xFF) shouldBe (17 * 2) % 256
    // a still image sampled returns the payload verbatim (one frame)
    Multimodal.ImageFrameSampler.frameAt("image", still, 0L) shouldBe still
  }

  /** Write an animated GIF where each frame is a constant-gray rect at an
    * explicit ImageDescriptor offset with an explicit disposal method —
    * the inter-frame-optimized shape foreign GIFs use. Identity gray
    * palette (the syntheticAnimatedGif trick) keeps pixel values exact. */
  private def optimizedGif(
      frames: Seq[(Int, Int, Int, Int, String, Int)], delayCs: Int): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val grays = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for ((w, h, left, top, disposal, gray) <- frames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        for (y <- 0 until h; x <- 0 until w)
          img.getRaster.setSample(x, y, 0, gray)
        val meta = writer.getDefaultImageMetadata(
          javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img),
          writer.getDefaultWriteParam)
        val fmt = "javax_imageio_gif_image_1.0"
        val root = meta.getAsTree(fmt)
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        val lct = new javax.imageio.metadata.IIOMetadataNode("LocalColorTable")
        lct.setAttribute("sizeOfLocalColorTable", "256")
        lct.setAttribute("sortFlag", "FALSE")
        for (ci <- 0 until 256) {
          val e = new javax.imageio.metadata.IIOMetadataNode("ColorTableEntry")
          e.setAttribute("index", ci.toString)
          e.setAttribute("red", ci.toString)
          e.setAttribute("green", ci.toString)
          e.setAttribute("blue", ci.toString)
          lct.appendChild(e)
        }
        root.appendChild(lct)
        val gce = new javax.imageio.metadata.IIOMetadataNode(
          "GraphicControlExtension")
        gce.setAttribute("disposalMethod", disposal)
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", delayCs.toString)
        gce.setAttribute("transparentColorIndex", "0")
        root.appendChild(gce)
        // the frame's placement on the logical screen — what makes this
        // GIF "optimized": frames > 0 carry only their changed rect
        val desc = new javax.imageio.metadata.IIOMetadataNode("ImageDescriptor")
        desc.setAttribute("imageLeftPosition", left.toString)
        desc.setAttribute("imageTopPosition", top.toString)
        desc.setAttribute("imageWidth", w.toString)
        desc.setAttribute("imageHeight", h.toString)
        desc.setAttribute("interlaceFlag", "FALSE")
        root.appendChild(desc)
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  test("GIF disposal compositing: partial-rect frames sample as the full " +
    "composed still under doNotDispose / restoreToBackgroundColor / " +
    "restoreToPrevious") {
    // screen 8x8 (from frame 0); then three optimized partial frames
    val gif = optimizedGif(Seq(
      (8, 8, 0, 0, "doNotDispose", 10),              // f0: full canvas
      (4, 4, 2, 2, "restoreToBackgroundColor", 200), // f1: patch, then clear
      (2, 2, 0, 0, "restoreToPrevious", 50),         // f2: corner, then revert
      (1, 1, 7, 7, "none", 99)),                     // f3: single pixel
      delayCs = 10)
    def gray(img: java.awt.image.BufferedImage, x: Int, y: Int): Int = {
      val p = img.getRGB(x, y)
      if ((p >>> 24) == 0) -1 else p & 0xFF // -1 = transparent (never drawn)
    }
    val meta = Multimodal.GifMedia.readMeta(gif).get
    meta.width shouldBe 8
    meta.height shouldBe 8
    meta.frames.map(_.disposal) shouldBe Vector("doNotDispose",
      "restoreToBackgroundColor", "restoreToPrevious", "none")
    meta.frames.map(f => (f.left, f.top)) shouldBe
      Vector((0, 0), (2, 2), (0, 0), (7, 7))
    meta.durationMs shouldBe 400L
    def at(i: Int) = Multimodal.GifMedia.compositedFrame(gif, i).get
    // display(0): the full frame
    gray(at(0), 0, 0) shouldBe 10
    gray(at(0), 3, 3) shouldBe 10
    // display(1): f0 still visible outside the patch, 200 inside it
    val d1 = at(1)
    gray(d1, 0, 0) shouldBe 10
    gray(d1, 3, 3) shouldBe 200
    gray(d1, 5, 5) shouldBe 200
    gray(d1, 6, 6) shouldBe 10
    // display(2): f1's rect was restored to background (transparent),
    // f2's 2x2 corner drawn on top of the remaining f0 canvas
    val d2 = at(2)
    gray(d2, 0, 0) shouldBe 50
    gray(d2, 1, 1) shouldBe 50
    gray(d2, 3, 3) shouldBe -1 // cleared by f1's disposal, never redrawn
    gray(d2, 6, 6) shouldBe 10
    // display(3): f2 was restored-to-previous (its corner vanishes),
    // f3's single pixel lands at (7,7)
    val d3 = at(3)
    gray(d3, 0, 0) shouldBe 10
    gray(d3, 3, 3) shouldBe -1
    gray(d3, 7, 7) shouldBe 99
    // the SAMPLER surfaces the composed stills (flattened: transparent →
    // black), not stored fragments: ts 250 ms lands in f2's window
    val png = Multimodal.ImageFrameSampler.frameAt("image", gif, 250L)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    img.getWidth shouldBe 8 // full canvas, not f2's stored 2x2
    (img.getRGB(0, 0) & 0xFF) shouldBe 50
    (img.getRGB(3, 3) & 0xFF) shouldBe 0  // transparent flattens to black
    (img.getRGB(6, 6) & 0xFF) shouldBe 10
    // and extractFeatures reports the composited frame 0 + full duration
    val feat = Multimodal.ImageIODecoder.decode("image", gif)
    feat._1 shouldBe 8
    feat._3 shouldBe 400L
    feat._4.head shouldBe 10f // cell (0,0) of the composed f0
    // the O(frames) forward walk composes pixel-identical canvases to the
    // per-index replay — across ALL THREE disposal methods
    val walked = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    val Some((wmeta, visited)) = Multimodal.GifMedia.walkComposited(gif, 64) {
      (_, canvas) =>
        walked += (for (y <- 0 until 8; x <- 0 until 8)
          yield canvas.getRGB(x, y)).toArray
    }: @unchecked
    visited shouldBe 4
    wmeta.durationMs shouldBe 400L
    for (i <- 0 until 4) {
      val replay = (for (y <- 0 until 8; x <- 0 until 8)
        yield at(i).getRGB(x, y)).toArray
      withClue(s"frame $i: ") { walked(i) shouldBe replay }
    }
  }

  test("GIF replay restart skips a full-cover opaque frame whose disposal " +
    "is restoreToPrevious — its post-disposal canvas reaches back past it, " +
    "so restarting there diverges from the forward walk") {
    val gif = optimizedGif(Seq(
      (8, 8, 0, 0, "doNotDispose", 10),       // f0: full canvas, gray 10
      (8, 8, 0, 0, "restoreToPrevious", 77),  // f1: FULL COVER, then revert
      (2, 2, 0, 0, "none", 200)),             // f2: corner patch
      delayCs = 10)
    def gray(img: java.awt.image.BufferedImage, x: Int, y: Int): Int = {
      val p = img.getRGB(x, y)
      if ((p >>> 24) == 0) -1 else p & 0xFF
    }
    def at(i: Int) = Multimodal.GifMedia.compositedFrame(gif, i).get
    // display(2): f1 reverted to f0's canvas (NOT to blank — a restart at
    // the cover frame f1 would restore to transparent), f2's corner on top
    val d2 = at(2)
    gray(d2, 0, 0) shouldBe 200
    gray(d2, 1, 1) shouldBe 200
    gray(d2, 5, 5) shouldBe 10  // f0 shows through — the divergence pixel
    // the target frame ITSELF may restart regardless of disposal (it
    // displays pre-disposal): display(1) is f1's own full cover
    gray(at(1), 5, 5) shouldBe 77
    // and the per-index replay stays pixel-identical to the forward walk
    val walked = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    Multimodal.GifMedia.walkComposited(gif, 64) { (_, canvas) =>
      walked += (for (y <- 0 until 8; x <- 0 until 8)
        yield canvas.getRGB(x, y)).toArray
    }
    for (i <- 0 until 3) {
      val replay = (for (y <- 0 until 8; x <- 0 until 8)
        yield at(i).getRGB(x, y)).toArray
      withClue(s"frame $i: ") { walked(i) shouldBe replay }
    }
  }

  test("hostile GIFs are bounded: frame count capped at GifMedia.MaxFrames " +
    "for duration and sampling; oversized screen descriptors are refused") {
    // 300 1x1 frames: metadata walk and duration stop at MaxFrames=256
    val many = optimizedGif(
      (0 until 300).map(i => (1, 1, 0, 0, "none", i % 256)), delayCs = 10)
    val meta = Multimodal.GifMedia.readMeta(many).get
    meta.frames.length shouldBe Multimodal.GifMedia.MaxFrames
    meta.durationMs shouldBe Multimodal.GifMedia.MaxFrames * 100L
    // compositing past the cap is refused, inside it works
    Multimodal.GifMedia.compositedFrame(many, 299) shouldBe None
    Multimodal.GifMedia.compositedFrame(many, 0) should not be None
  }

  test("resize keeps the media schema, re-encodes payload, updates metadata") {
    val resized = Multimodal.resize(media, 128, 96)
    resized.schema.simpleString shouldBe Multimodal.mediaSchema.simpleString
    val r = resized.where("media_id = 1")
      .select("meta.content_type", "meta.n_bytes").as[(String, Long)].head()
    r._1 should endWith(";resized=128x96")
    r._2 shouldBe (128L * 96 / 64)
    // determinism: equal payloads resize to equal bytes
    val bytes = resized.orderBy("media_id").select("content").as[Array[Byte]].collect()
    bytes(0) shouldBe bytes(2)
    bytes(0) should not equal bytes(1)
  }

  test("frame sampling: images yield one frame, video one per interval, bounded") {
    // a REAL clip: 48 frames at 12 fps = 4000 ms → 1000 ms grid = 5 points
    val avi = Multimodal.syntheticMjpegAvi(9L, 16, 16, nFrames = 48, rate = 12)
    val video = Multimodal.asMediaFrame(
      Seq((9L, avi, "s3://bucket/v.avi")).toDF("id", "bytes", "uri"),
      "id", "bytes", "video", "uri")
    val frames = Multimodal.sampleFrames(video, everyMs = 1000, maxFrames = 16)
    frames.schema shouldBe Multimodal.frameSchema
    val n = frames.count()
    n shouldBe 5L // 0..4000 ms inclusive
    frames.select("ts_ms").as[Long].collect().sorted shouldBe
      (0L until n).map(_ * 1000L).toArray
    // an UNPARSEABLE video payload decodes to the sentinel (duration 0)
    // → exactly one frame, returned verbatim — never stub fabrication
    val junk = Multimodal.asMediaFrame(
      Seq((1L, "some-video-payload", "s3://bucket/v.mp4")).toDF("id", "body", "uri")
        .select(col("id"), encode(col("body"), "UTF-8").as("bytes"), col("uri")),
      "id", "bytes", "video", "uri")
    val junkFrames = Multimodal.sampleFrames(junk, everyMs = 1000).collect()
    junkFrames.length shouldBe 1
    new String(junkFrames.head.getAs[Array[Byte]]("frame"),
      "UTF-8") shouldBe "some-video-payload"
    // images: single frame at ts 0
    Multimodal.sampleFrames(media, everyMs = 1000)
      .groupBy("media_id").count().select("count").as[Long].collect()
      .foreach(_ shouldBe 1L)
  }

  test("REAL MJPEG-in-AVI decode: container parse, strh clock duration, " +
    "per-frame JPEG pixels, mid-stream sampling, sentinel on junk") {
    // 5 frames at 10 fps, 32x16: tile (qx,qy) of frame f has gray
    // (3*31 + 7qx + 13qy + 17f) % 256
    val avi = Multimodal.syntheticMjpegAvi(3L, 32, 16, nFrames = 5, rate = 10)
    def tile(qx: Int, qy: Int, f: Int): Int =
      java.lang.Math.floorMod(3L * 31 + 7 * qx + 13 * qy + 17 * f, 256L).toInt
    val v = AviMjpeg.read(avi).get
    v.frameCount shouldBe 5
    v.durationMs shouldBe 500L
    // frame clock: ts → floor(ts·rate/1000·scale), clamped at the end
    v.frameIndexAt(0L) shouldBe 0
    v.frameIndexAt(99L) shouldBe 0
    v.frameIndexAt(100L) shouldBe 1
    v.frameIndexAt(250L) shouldBe 2
    v.frameIndexAt(99999L) shouldBe 4
    // JPEG pixels are BIT-EXACT at q=1.0 with 16-aligned constant tiles
    for (f <- 0 until 5) {
      val img = v.frame(f).get
      img.getWidth shouldBe 32
      img.getHeight shouldBe 16
      (img.getRGB(0, 0) & 0xFF) shouldBe tile(0, 0, f)
      (img.getRGB(17, 3) & 0xFF) shouldBe tile(1, 0, f)
      (img.getRGB(31, 15) & 0xFF) shouldBe tile(1, 0, f)
    }
    // decoder routing: true dims, strh duration, frame-0 luma grid
    val (w, h, dur, feat) = Multimodal.ImageIODecoder.decode("video", avi)
    (w, h, dur) shouldBe ((32, 16, 500L))
    feat.length shouldBe 16
    feat(0) shouldBe tile(0, 0, 0).toFloat  // cell (0,0): inside tile 0
    feat(3) shouldBe tile(1, 0, 0).toFloat  // cell (0,3): x in [24,32) → qx 1
    // sampler: the emitted PNG still carries the RIGHT frame's pixels
    val png = Multimodal.ImageFrameSampler.frameAt("video", avi, 250L)
    val still = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    (still.getRGB(0, 0) & 0xFF) shouldBe tile(0, 0, 2)
    (still.getRGB(20, 5) & 0xFF) shouldBe tile(1, 0, 2)
    // junk payloads: the explicit sentinel, never fake dimensions
    val junk = Multimodal.ImageIODecoder.decode("video", "nope".getBytes("UTF-8"))
    (junk._1, junk._2, junk._3) shouldBe ((-1, -1, 0L))
    junk._4 shouldBe empty
    // a RIFF that is not AVI (the WAV container) is refused too
    Multimodal.ImageIODecoder.decode("video",
      Multimodal.syntheticWavPcm16(1L, 8000, 1, 100))._1 shouldBe -1
    // an unknown modality string sentinels in the DEFAULT decoder (no
    // fabricated dims) and samples verbatim — custom modalities wire a
    // custom MediaDecoder/FrameSampler through the seams
    Multimodal.ImageIODecoder.decode("pointcloud", avi)._1 shouldBe -1
    Multimodal.ImageFrameSampler.frameAt("pointcloud", avi, 0L) shouldBe avi
    // truncated mid-chunk: parse stops cleanly at the damage
    Multimodal.ImageIODecoder.decode("video",
      avi.take(avi.length / 2))._1 should (be(-1).or(be(32)))
  }

  test("REAL audio frame sampling: a 1-second PCM window from the sampled " +
    "timestamp, re-assembled as a playable WAV at the source rate; " +
    "end-of-payload clamps; junk comes back verbatim") {
    // 16 kHz mono ramp: sample i = i % 4096 - 2048 over 2 s (32000 frames)
    val n = 32000
    val b = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(16000).putInt(32000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(n * 2)
    (0 until n).foreach(i => b.putShort((i % 4096 - 2048).toShort))
    val wav = b.array()
    // window at ts 500 ms: frames [8000, 24000) — one full second
    val win = Multimodal.ImageFrameSampler.frameAt("audio", wav, 500L)
    val (rate, ch, _, dur, feat) = {
      val d = Multimodal.WavPcmDecoder.decode("audio", win)
      (d._1, d._2, 0, d._3, d._4)
    }
    (rate, ch) shouldBe ((16000, 1))
    dur shouldBe 1000L
    feat.length shouldBe 16
    // the window carries the SOURCE samples from the right offset: its
    // first sample is source frame 8000 → 8000 % 4096 - 2048 = 1856
    val p = Multimodal.WavPcmDecoder.parsePcm16(win).get
    ((p._4(1) << 8) | (p._4(0) & 0xFF)).toShort.toInt shouldBe
      (8000 % 4096 - 2048)
    // past-the-end timestamps clamp to the final sample frame
    val tail = Multimodal.ImageFrameSampler.frameAt("audio", wav, 99999L)
    Multimodal.WavPcmDecoder.parsePcm16(tail).get._4.length shouldBe 2 // 1 frame
    // unparseable audio: verbatim, never fabricated bytes
    val junk = "not audio".getBytes("UTF-8")
    Multimodal.ImageFrameSampler.frameAt("audio", junk, 0L) shouldBe junk
    // the sampleFrames operator emits these windows on the duration grid
    val media = Multimodal.asMediaFrame(
      Seq((1L, wav, "mem://aw")).toDF("id", "bytes", "uri"),
      "id", "bytes", "audio", "uri")
    val rows = Multimodal.sampleFrames(media, everyMs = 1000).collect()
    rows.length shouldBe 3 // 0, 1000, 2000 ms over a 2 s clip
    val last = Multimodal.WavPcmDecoder.decode("audio",
      rows.maxBy(_.getAs[Int]("frame_idx")).getAs[Array[Byte]]("frame"))
    last._3 should be < 1000L // clamped tail window
  }

  test("REAL MJPEG-AVI resize: every frame rescaled and re-encoded, frame " +
    "clock preserved, a re-decode reports the target dims; junk degrades " +
    "to the stub") {
    // constant 16x16 frames (a single tile): bilinear of a constant is
    // the constant and q=1.0 JPEG of a constant is exact at ANY dims, so
    // the resized pixels provably carry the source values
    val clip = Multimodal.syntheticMjpegAvi(5L, 16, 16, nFrames = 4, rate = 10)
    val out = Multimodal.ImageIOResizer.resize("video", clip, 24, 24)
    val v = AviMjpeg.read(out).get
    v.frameCount shouldBe 4
    (v.rate, v.scale) shouldBe ((10L, 1L))
    v.durationMs shouldBe 400L
    for (f <- 0 until 4) {
      val img = v.frame(f).get
      (img.getWidth, img.getHeight) shouldBe ((24, 24))
      val want = java.lang.Math.floorMod(5L * 31 + f * 17, 256L).toInt
      (img.getRGB(0, 0) & 0xFF) shouldBe want
      (img.getRGB(23, 23) & 0xFF) shouldBe want
    }
    // junk video payloads degrade to the stub resizer, never an exception
    Multimodal.ImageIOResizer.resize("video",
      "junk".getBytes("UTF-8"), 8, 8).length should be > 0
    // the partition-wise resize operator routes video through the real
    // clip resize: re-decode of its output reports the target dims and
    // the preserved clock duration
    val media = Multimodal.asMediaFrame(
      Seq((1L, clip, "mem://v")).toDF("id", "bytes", "uri"),
      "id", "bytes", "video", "uri")
    val feats = Multimodal.extractFeatures(
      Multimodal.resize(media, 24, 24)).collect().head
    feats.getAs[Int]("width") shouldBe 24
    feats.getAs[Int]("height") shouldBe 24
    feats.getAs[Long]("duration_ms") shouldBe 400L
  }

  test("REAL perceptual dHash: equal images hash equal, brightness shifts " +
    "are invariant, a local edit flips few bits, undecodable hashes NULL; " +
    "dedup_image removes the planted twins through the hamming engine") {
    def png(seed: Long) = Multimodal.syntheticImagePng(seed, 24, 24)
    val h1 = Multimodal.dHash64("image", png(7)).get
    Multimodal.dHash64("image", png(7)).get shouldBe h1 // deterministic
    Multimodal.dHash64("image", png(8)).get should not be h1
    // GLOBAL brightness shift: every pixel +40 (clamped off — keep <216
    // sources? formula wraps mod 256, so build a custom flat-gradient
    // image instead): gradient image vs the same +40 — identical dHash
    def gradient(shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(27, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 27) {
        val v = math.min(255, x * 7 + shift)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    Multimodal.dHash64("image", gradient(0)) shouldBe
      Multimodal.dHash64("image", gradient(40))
    // a LOCAL edit (one corner patch) flips few gradient bits
    def patched(): Array[Byte] = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png(7)))
      for (y <- 0 until 3; x <- 0 until 3) img.setRGB(x, y, 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val hp = Multimodal.dHash64("image", patched()).get
    // a 3x3 corner edit can move at most the gradient bits whose block
    // boundaries it touches — near-dup territory, never a rehash
    java.lang.Long.bitCount(h1 ^ hp) should be <= 6
    // undecodable → None; video stills hash via AVI frame 0
    Multimodal.dHash64("image", "junk".getBytes("UTF-8")) shouldBe None
    Multimodal.dHash64("video",
      Multimodal.syntheticMjpegAvi(7L, 32, 16, 2, 10)) should not be None
    // END TO END: docs 0..9 where image seed = id % 5 (twins at i, i+5),
    // dedup_image drops every larger twin and keeps the undecodable row
    import org.apache.spark.sql.functions._
    val pngUdf = udf((id: Long) => png(id % 5))
    val docs = (0L until 10L).toDF("doc_id")
      .select(col("doc_id"), pngUdf(col("doc_id")).as("bytes"))
      .union(Seq((99L, "not an image".getBytes("UTF-8")))
        .toDF("doc_id", "bytes"))
    val kept = graft.operators.ImageDedupTransform(docs,
      graft.config.TransformConfig("d", "dedup_image", Map(
        "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
        "maxHamming" -> "0")),
      graft.api.RunContext(spark, "t", "r"))
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(0L, 1L, 2L, 3L, 4L, 99L)
  }

  test("media_signatures store + signatureView: the increment dedups " +
    "against persisted hashes without re-parsing history, drift (wrong " +
    "modality / hash version / missing stamps) fails loudly, survivor " +
    "options are rejected") {
    import org.apache.spark.sql.functions._
    val ctx = graft.api.RunContext(spark, "t", "r")
    def png(seed: Long) = Multimodal.syntheticImagePng(seed, 24, 24)
    val pngUdf = udf((id: Long) => png(id % 5))
    // history: ids 0..2 (seeds 0..2) persisted as signatures
    val history = (0L until 3L).toDF("doc_id")
      .select(col("doc_id"), pngUdf(col("doc_id")).as("bytes"))
    val store = graft.operators.MediaSignaturesTransform(history,
      graft.config.TransformConfig("s", "media_signatures", Map(
        "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
        "modality" -> "image")), ctx)
    store.columns.toSeq should contain allOf ("doc_id", "modality", "sig",
      "sig2", "ms_version")
    store.where("sig IS NULL").count() shouldBe 0
    store.createOrReplaceTempView("msig_store")
    // increment: ids 10..19 (seeds 0..4) + one undecodable row. Seeds
    // 0..2 have exact twins in the store and drop; 3..4 survive; the
    // undecodable row hashes NULL and is kept
    val inc = (10L until 20L).toDF("doc_id")
      .select(col("doc_id"), pngUdf(col("doc_id")).as("bytes"))
      .union(Seq((99L, "not an image".getBytes("UTF-8")))
        .toDF("doc_id", "bytes"))
    val kept = graft.operators.ImageDedupTransform(inc,
      graft.config.TransformConfig("d", "dedup_image", Map(
        "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
        "maxHamming" -> "0", "signatureView" -> "msig_store")), ctx)
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(13L, 14L, 18L, 19L, 99L)
    // AUDIO: same loop through aHash signatures. Expected survivors are
    // derived from the hash function itself (sawtooth clips can collide
    // at hamming 0 across seeds — the self-join spec's discipline)
    def wavOf(id: Long) = Multimodal.syntheticWavPcm16(id % 3, 8000, 1, 8000)
    val wavUdf = udf((id: Long) => wavOf(id))
    val audioHist = (0L until 2L).toDF("doc_id")
      .select(col("doc_id"), wavUdf(col("doc_id")).as("bytes"))
    graft.operators.MediaSignaturesTransform(audioHist,
      graft.config.TransformConfig("s", "media_signatures", Map(
        "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
        "modality" -> "audio")), ctx)
      .createOrReplaceTempView("msig_audio")
    val audioInc = (10L until 16L).toDF("doc_id")
      .select(col("doc_id"), wavUdf(col("doc_id")).as("bytes"))
    val histHashes = (0L until 2L).map(id => Multimodal.aHash64(wavOf(id)).get).toSet
    val audioExpect = (10L until 16L)
      .filterNot(id => histHashes.contains(Multimodal.aHash64(wavOf(id)).get))
      .toArray
    graft.operators.AudioDedupTransform(audioInc,
      graft.config.TransformConfig("d", "dedup_audio", Map(
        "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
        "maxHamming" -> "0", "signatureView" -> "msig_audio")), ctx)
      .select("doc_id").as[Long].collect().sorted shouldBe audioExpect
    // the PLANTED exact twins (seed ∈ history's {0, 1}) always drop
    audioExpect.contains(12L) shouldBe false // seed 0
    audioExpect.contains(10L) shouldBe false // seed 1
    // VIDEO: temporal block on sig + spatial confirm on sig2
    def aviOf(id: Long) = Multimodal.syntheticMjpegAvi(id % 3, 32, 16, 3, 10)
    val aviUdf = udf((id: Long) => aviOf(id))
    val vidHist = (0L until 2L).toDF("doc_id")
      .select(col("doc_id"), aviUdf(col("doc_id")).as("bytes"))
    val vstore = graft.operators.MediaSignaturesTransform(vidHist,
      graft.config.TransformConfig("s", "media_signatures", Map(
        "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
        "modality" -> "video")), ctx)
    vstore.where("sig IS NULL OR sig2 IS NULL").count() shouldBe 0
    vstore.createOrReplaceTempView("msig_video")
    val vidInc = (10L until 16L).toDF("doc_id")
      .select(col("doc_id"), aviUdf(col("doc_id")).as("bytes"))
    val vHist = (0L until 2L).map { id =>
      (Multimodal.tHash64("video", aviOf(id)).get,
        Multimodal.dHash64("video", aviOf(id)).get) }.toSet
    val vidExpect = (10L until 16L).filterNot { id =>
      vHist.contains((Multimodal.tHash64("video", aviOf(id)).get,
        Multimodal.dHash64("video", aviOf(id)).get)) }.toArray
    graft.operators.VideoDedupTransform(vidInc,
      graft.config.TransformConfig("d", "dedup_video", Map(
        "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
        "maxHamming" -> "0", "signatureView" -> "msig_video")), ctx)
      .select("doc_id").as[Long].collect().sorted shouldBe vidExpect
    vidExpect.contains(12L) shouldBe false
    vidExpect.contains(10L) shouldBe false
    // DRIFT is loud: wrong modality, foreign hash version, lost stamps,
    // and survivor options with a reference that is not in the frame
    def imgDedup(view: String, extra: (String, String)*) =
      graft.operators.ImageDedupTransform(inc,
        graft.config.TransformConfig("d", "dedup_image", Map(
          "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
          "signatureView" -> view) ++ extra), ctx).collect()
    (the[graft.api.ConfigException] thrownBy
      imgDedup("msig_audio")).getMessage should include ("modality=image")
    store.withColumn("ms_version", lit(99))
      .createOrReplaceTempView("msig_v99")
    (the[graft.api.ConfigException] thrownBy
      imgDedup("msig_v99")).getMessage should include ("hash versions")
    store.drop("ms_version").createOrReplaceTempView("msig_nostamp")
    (the[graft.api.ConfigException] thrownBy
      imgDedup("msig_nostamp")).getMessage should include ("ms_version")
    (the[graft.api.ConfigException] thrownBy
      imgDedup("msig_store", "survivor" -> "cluster")).getMessage should
      include ("does not apply with signatureView")
  }

  test("REAL perceptual aHash: equal clips hash equal, positive gain is " +
    "invariant, unparseable hashes NULL; dedup_audio removes planted twins") {
    def wav(seed: Long, gain: Int = 1) = {
      val n = 2000
      val b = java.nio.ByteBuffer.allocate(44 + n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(n * 2)
      (0 until n).foreach { i =>
        b.putShort((((seed * 31 + i * 7) % 4096 - 2048) * gain).toShort)
      }
      b.array()
    }
    val h1 = Multimodal.aHash64(wav(7)).get
    Multimodal.aHash64(wav(7)).get shouldBe h1       // deterministic
    Multimodal.aHash64(wav(8)).get should not be h1  // content-dependent
    // positive gain scales every window mean equally — hash invariant
    // (the property that makes aHash survive volume normalization)
    Multimodal.aHash64(wav(7, gain = 8)).get shouldBe h1
    Multimodal.aHash64("not audio".getBytes("UTF-8")) shouldBe None
    // END TO END: ids 0..9 with clip seed = id % 5 (twins at i, i+5) plus
    // an unparseable row — dedup_audio drops every larger twin, keeps junk
    import org.apache.spark.sql.functions._
    val wavUdf = udf((id: Long) => wav(id % 5))
    val docs = (0L until 10L).toDF("doc_id")
      .select(col("doc_id"), wavUdf(col("doc_id")).as("bytes"))
      .union(Seq((99L, "static".getBytes("UTF-8"))).toDF("doc_id", "bytes"))
    val kept = graft.operators.AudioDedupTransform(docs,
      graft.config.TransformConfig("d", "dedup_audio", Map(
        "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
        "maxHamming" -> "0")),
      graft.api.RunContext(spark, "t", "r"))
      .select("doc_id").as[Long].collect().sorted
    // expected survivors derived from the hash function itself (similar
    // sawtooth clips can legitimately collide at hamming 0 ACROSS seeds —
    // first id of each hash class survives, the greedy pair-drop policy)
    val hashes = (0L until 10L).map(id => id -> Multimodal.aHash64(wav(id % 5)).get)
    val expect = hashes.filter { case (id, h) =>
      !hashes.exists { case (j, hj) => j < id && hj == h } }.map(_._1)
    kept shouldBe (expect :+ 99L).sorted.toArray
    // the PLANTED twins are always among the dropped
    kept should contain (0L)
    Seq(5L, 6L, 7L, 8L, 9L).foreach(id => kept.contains(id) shouldBe false)
  }

  test("REAL temporal tHash: twins hash equal, trajectory-dependent, " +
    "stills/junk hash None, GIFs walk composited frames; dedup_video " +
    "blocks on the temporal hash and confirms on the spatial one") {
    def clip(seed: Long, frames: Int = 40) =
      Multimodal.syntheticMjpegAvi(seed, 32, 16, frames, 10)
    val t1 = Multimodal.tHash64("video", clip(7)).get
    Multimodal.tHash64("video", clip(7)).get shouldBe t1       // deterministic
    Multimodal.tHash64("video", clip(8)).get should not be t1  // content-dependent
    // same frame 0, different trajectory (8 vs 80 frames): the temporal
    // hash separates what frame-0 dHash cannot — the clip-share-a-
    // thumbnail failure mode of spatial-only screening
    val shortClip = clip(7, frames = 8); val longClip = clip(7, frames = 80)
    Multimodal.dHash64("video", shortClip) shouldBe
      Multimodal.dHash64("video", longClip)
    Multimodal.tHash64("video", shortClip) should not be
      Multimodal.tHash64("video", longClip)
    // stills have no trajectory to sign; junk has no container
    Multimodal.tHash64("image",
      Multimodal.syntheticImagePng(7, 24, 24)) shouldBe None
    Multimodal.tHash64("video", "junk".getBytes("UTF-8")) shouldBe None
    // animated GIFs are timed visual media too — the composited-frame walk
    val gif = Multimodal.syntheticAnimatedGif(7, 20, 12, 6, 4)
    Multimodal.tHash64("image", gif) should not be None
    Multimodal.tHash64("image",
      Multimodal.syntheticAnimatedGif(7, 20, 12, 6, 4)) shouldBe
      Multimodal.tHash64("image", gif)
    // the fused single-parse videoHashes walk equals the per-payload
    // tHash64/dHash64 pair (parity of the one-decode-per-frame path)
    val vh = Multimodal.videoHashes(Multimodal.asMediaFrame(
      Seq((1L, clip(7), "u"), (2L, "junk".getBytes("UTF-8"), "u"))
        .toDF("id", "bytes", "uri"), "id", "bytes", "video", "uri"))
      .collect().map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    vh(1L) shouldBe ((t1, Multimodal.dHash64("video", clip(7)).get))
    vh(2L) shouldBe ((null, null))
    // END TO END: ids 0..9 with clip seed = id % 5 (twins at i, i+5) plus
    // a junk row — dedup_video drops every larger twin, keeps junk (NULL
    // hashes never pair)
    import org.apache.spark.sql.functions._
    val clipUdf = udf((id: Long) => clip(id % 5))
    val docs = (0L until 10L).toDF("doc_id")
      .select(col("doc_id"), clipUdf(col("doc_id")).as("bytes"))
      .union(Seq((99L, "static".getBytes("UTF-8"))).toDF("doc_id", "bytes"))
    val kept = graft.operators.VideoDedupTransform(docs,
      graft.config.TransformConfig("d", "dedup_video", Map(
        "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
        "maxHamming" -> "0", "maxSpatialHamming" -> "0")),
      graft.api.RunContext(spark, "t", "r"))
      .select("doc_id").as[Long].collect().sorted
    // expected survivors derived from the hash pair itself (cross-seed
    // clips can legitimately collide — first id of each class survives)
    val sigs = (0L until 10L).map(id => (id,
      Multimodal.tHash64("video", clip(id % 5)).get,
      Multimodal.dHash64("video", clip(id % 5)).get))
    val expect = sigs.filter { case (id, t, d) =>
      !sigs.exists { case (j, tj, dj) => j < id && tj == t && dj == d }
    }.map(_._1)
    kept shouldBe (expect :+ 99L).sorted.toArray
    kept should contain (0L)
    Seq(5L, 6L, 7L, 8L, 9L).foreach(id => kept.contains(id) shouldBe false)
    // SPATIAL CONFIRM: fixture-formula seeds 32 and 49 are temporal
    // near-twins (luma trajectories 1 bit apart) whose frame-0 layouts
    // differ by 10 gradient bits — exactly the different-clips-with-the-
    // same-brightness-drift case the confirm exists for. Within the
    // spatial budget the pair drops one; one notch tighter keeps both.
    def fClip(seed: Long) = Multimodal.syntheticMjpegAvi(
      seed, 16 * (2 + (seed % 2)).toInt, 16 * (1 + (seed % 3)).toInt,
      40 + (seed * 7 % 60).toInt, 10 + (seed % 3).toInt * 5)
    val (ca, cb) = (fClip(32), fClip(49))
    java.lang.Long.bitCount(Multimodal.tHash64("video", ca).get ^
      Multimodal.tHash64("video", cb).get) shouldBe 1
    java.lang.Long.bitCount(Multimodal.dHash64("video", ca).get ^
      Multimodal.dHash64("video", cb).get) shouldBe 10
    val two = Seq((32L, ca), (49L, cb)).toDF("doc_id", "bytes")
    def survivors(spatial: Int): Long = graft.operators.VideoDedupTransform(
      two, graft.config.TransformConfig("d", "dedup_video", Map(
        "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
        "maxHamming" -> "1", "maxSpatialHamming" -> spatial.toString)),
      graft.api.RunContext(spark, "t", "r")).count()
    survivors(10) shouldBe 1
    survivors(9) shouldBe 2
    // a nonsense spatial budget fails LOUDLY — a negative value would
    // silently disable dedup (bit_count <= -k is false for every pair)
    the[graft.api.ConfigException] thrownBy
      graft.operators.VideoDedupTransform(two,
        graft.config.TransformConfig("d", "dedup_video", Map(
          "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
          "maxSpatialHamming" -> "-3")),
        graft.api.RunContext(spark, "t", "r")) should have message (
      "dedup_video: maxSpatialHamming must be in [0, 64], got -3")
  }

  test("media quality signals: visual brightness/contrast/sharpness, " +
    "audio rms/clip/silence, timed duration, honest undecodable sentinel; " +
    "the transform validates its thresholds") {
    def gray(v: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def ramp(w: Int, h: Int): Array[Byte] = { // luma = 5x: gradient 5 everywhere
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = x * 5
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def wav(sample: Int => Int, n: Int = 400): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(44 + n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(n * 2)
      (0 until n).foreach(i => b.putShort(sample(i).toShort))
      b.array()
    }
    def frame(bytes: Array[Byte], modality: String) = Multimodal.asMediaFrame(
      Seq((1L, bytes, "mem://sig")).toDF("id", "bytes", "uri"),
      "id", "bytes", modality, "uri")
    def sig(bytes: Array[Byte], modality: String) =
      Multimodal.mediaSignals(frame(bytes, modality)).collect().head
    // flat gray card: brightness = the value, zero contrast, zero sharpness
    val flat = sig(gray(77, 20, 10), "image")
    flat.getAs[Int]("width") shouldBe 20
    flat.getAs[Long]("duration_ms") shouldBe 0L
    flat.getAs[Double]("brightness") shouldBe 77.0
    flat.getAs[Double]("contrast") shouldBe 0.0
    flat.getAs[Double]("sharpness") shouldBe 0.0
    flat.isNullAt(flat.fieldIndex("rms")) shouldBe true
    // horizontal ramp (luma 5x): every gradient step is 5 — sharpness 5.0
    val r = sig(ramp(10, 6), "image")
    r.getAs[Double]("brightness") shouldBe 22.5
    r.getAs[Double]("sharpness") shouldBe 5.0
    r.getAs[Double]("contrast") should be > 14.0
    // full-scale square wave: clipped throughout, never silent, rms ≈ FS
    val clipped = sig(wav(i => if (i % 2 == 0) 32767 else -32768), "audio")
    clipped.getAs[Double]("clip_frac") shouldBe 1.0
    clipped.getAs[Double]("silence_frac") shouldBe 0.0
    clipped.getAs[Double]("rms") should be > 0.999
    clipped.isNullAt(clipped.fieldIndex("brightness")) shouldBe true
    // digital silence: zero power, all-silent
    val silent = sig(wav(_ => 0), "audio")
    silent.getAs[Double]("rms") shouldBe 0.0
    silent.getAs[Double]("silence_frac") shouldBe 1.0
    silent.getAs[Double]("clip_frac") shouldBe 0.0
    silent.getAs[Long]("duration_ms") shouldBe 50L // 400 frames @ 8 kHz
    // timed visual payloads report their clock duration
    sig(Multimodal.syntheticAnimatedGif(7, 20, 12, 4, 5), "image")
      .getAs[Long]("duration_ms") shouldBe 200L
    sig(Multimodal.syntheticMjpegAvi(3, 32, 16, 4, 20), "video")
      .getAs[Long]("duration_ms") shouldBe 200L
    // undecodable → the honest sentinel, no fabricated scores
    val junk = sig("junk".getBytes("UTF-8"), "image")
    junk.getAs[Int]("width") shouldBe -1
    junk.isNullAt(junk.fieldIndex("brightness")) shouldBe true
    junk.isNullAt(junk.fieldIndex("rms")) shouldBe true
    // transform wiring + threshold validation
    import graft.config.TransformConfig
    import graft.api.RunContext
    val ctx = RunContext(spark, "mm", "t")
    val raw = Seq((1L, gray(10, 16, 16))).toDF("id", "bytes")
    def tc(opts: (String, String)*) = TransformConfig("mm", "multimodal",
      Map("operation" -> "signals", "idColumn" -> "id",
        "bytesColumn" -> "bytes") ++ opts.toMap)
    graft.operators.MultimodalTransform(raw, tc(), ctx)
      .schema shouldBe Multimodal.signalSchema
    the[graft.api.ConfigException] thrownBy
      graft.operators.MultimodalTransform(raw,
        tc("silenceAbs" -> "400", "clipAbs" -> "300"), ctx) should
      have message ("multimodal: signals needs 0 <= silenceAbs < clipAbs " +
        "<= 32768 (int16 absolute-amplitude thresholds), got " +
        "silenceAbs=400 clipAbs=300")
    the[graft.api.ConfigException] thrownBy
      graft.operators.MultimodalTransform(raw,
        tc("clipAbs" -> "lots"), ctx) should
      have message "multimodal: clipAbs must be an integer, got 'lots'"
  }

  test("null payloads decode as empty bytes instead of crashing") {
    val withNull = media.withColumn("content",
      when(col("media_id") === 2, lit(null).cast("binary")).otherwise(col("content")))
    Multimodal.extractFeatures(withNull).count() shouldBe 3
  }

  test("declarative multimodal transform: features, frames, validation") {
    import graft.config.TransformConfig
    import graft.api.RunContext
    val ctx = RunContext(spark, "mm", "t")
    val raw = Seq((1L, "payload-one"), (2L, "payload-two")).toDF("id", "body")
      .select(col("id"), encode(col("body"), "UTF-8").as("bytes"))
    def t(opts: (String, String)*) = TransformConfig("mm", "multimodal", opts.toMap)
    val feats = graft.operators.MultimodalTransform(raw,
      t("operation" -> "features", "idColumn" -> "id", "bytesColumn" -> "bytes"), ctx)
    feats.schema shouldBe Multimodal.featureSchema
    feats.count() shouldBe 2
    val frames = graft.operators.MultimodalTransform(raw,
      t("operation" -> "frames", "idColumn" -> "id", "bytesColumn" -> "bytes",
        "modality" -> "video", "everyMs" -> "10000", "maxFrames" -> "3"), ctx)
    frames.schema shouldBe Multimodal.frameSchema
    frames.groupBy("media_id").count().select("count").as[Long].collect()
      .foreach(_ should be <= 3L)
    an[graft.api.ConfigException] should be thrownBy graft.operators.MultimodalTransform(
      raw, t("operation" -> "nope", "idColumn" -> "id", "bytesColumn" -> "bytes"), ctx)
    an[graft.api.ConfigException] should be thrownBy graft.operators.MultimodalTransform(
      raw, t("operation" -> "features"), ctx)
    // a modality typo must not silently route real images to the stub
    // decoder; known modalities normalize case
    an[graft.api.ConfigException] should be thrownBy graft.operators.MultimodalTransform(
      raw, t("operation" -> "features", "idColumn" -> "id",
        "bytesColumn" -> "bytes", "modality" -> "img"), ctx)
    graft.operators.MultimodalTransform(raw,
      t("operation" -> "features", "idColumn" -> "id", "bytesColumn" -> "bytes",
        "modality" -> "Image"), ctx).count() shouldBe 2
    // non-positive targets/maxFrames fail on the driver, not mid-task
    an[IllegalArgumentException] should be thrownBy graft.operators.MultimodalTransform(
      raw, t("operation" -> "resize", "idColumn" -> "id",
        "bytesColumn" -> "bytes", "targetW" -> "0"), ctx)
    an[IllegalArgumentException] should be thrownBy graft.operators.MultimodalTransform(
      raw, t("operation" -> "frames", "idColumn" -> "id",
        "bytesColumn" -> "bytes", "maxFrames" -> "0"), ctx)
  }
}
