package graft.pipeline

import java.io.ByteArrayInputStream

import javax.sound.sampled.{AudioFormat, AudioSystem}

/** [[Externals]] with a REAL compressed-audio decode binding: the JDK's
  * `javax.sound.sampled` SPI chain (reference decodes mp3 via librosa,
  * pre_processing/process_all.py:382-392). Out of the box the JDK SPIs
  * cover wav/au/aiff in any PCM width plus ULAW/ALAW; MPEG audio routes
  * to the native Layer III decode ([[graft.operators.AudioOps.decodeMp3]]:
  * real framing, side info and bit reservoir; count1 spectral frames
  * decode to audible PCM and zero-payload frames to spec-exact
  * silence). Streams that need the spec's printed tables (big-value
  * Huffman codes, scalefactor bands, short blocks, LSF) raise a pointed
  * UnsupportedOperationException until an mp3/ogg SPI jar lands on the
  * executor classpath, which extends coverage with no code change — the
  * point of the trait boundary. Everything non-audio still delegates to
  * [[StubExternals]]' deterministic fakes.
  *
  * Decode path: container parse -> convert to 16-bit signed little-endian
  * PCM at the source rate -> mono mixdown by channel average (librosa
  * mono=True semantics, same as AudioOps.decodePcm16Wav).
  */
object JavaSoundExternals extends Externals {

  override def fetchBookMetadata(url: String): BookMeta =
    StubExternals.fetchBookMetadata(url)

  /** Real PDFs (by the `%PDF-` magic, §7.5.2) route to the native
    * extractor ([[graft.operators.PdfText]] — linear object scan,
    * Inflater-backed FlateDecode, BT/ET text operators), as real MPEG
    * audio routes to the native decoder in [[decodeAudio]]. Non-PDF
    * payloads keep the fixture stub semantics (the reference fixtures
    * use ASCII payloads as stand-in "PDFs"). */
  override def extractPdfText(bytes: Array[Byte]): String =
    if (hasPdfMagic(bytes)) graft.operators.PdfText.extract(bytes)
    else StubExternals.extractPdfText(bytes)

  /** `%PDF-` anywhere in the first 1024 bytes — Acrobat's own
    * tolerance: crawled PDFs routinely carry HTTP/mail junk prefixes,
    * and missing the magic would dump the raw binary into the corpus
    * through the ASCII stub. The extractor's object scan is
    * offset-independent, so no trimming is needed. */
  private def hasPdfMagic(b: Array[Byte]): Boolean = {
    if (b == null || b.length < 5) return false
    val lim = math.min(b.length - 5, 1024)
    var i = 0
    while (i <= lim) {
      if (b(i) == '%' && b(i + 1) == 'P' && b(i + 2) == 'D' &&
          b(i + 3) == 'F' && b(i + 4) == '-') return true
      i += 1
    }
    false
  }

  override def transcribe(samples: Array[Float], refText: String): String =
    StubExternals.transcribe(samples, refText)

  /** Real image resize for the formats the STOCK JDK decodes
    * (javax.imageio ships png/jpeg/bmp/gif/wbmp readers and writers in
    * the java.desktop module, and they work headless).
    * Sniffs the container magic, decodes, area-averaging scales (the
    * anti-aliasing resample a thumbnail pipeline wants, deterministic
    * in-JVM), re-encodes in the SAME container. GIF re-encodes as PNG
    * (the JDK GIF writer palette-quantizes lossily; PNG keeps the
    * decoded pixels exact). Unrecognized/undecodable payloads keep the
    * fixture-stub semantics, so the registered mm_image_resize query's
    * content-keyed oracle is untouched. */
  override def resizeImage(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val fmt = imageFormat(bytes)
    if (fmt == null) return StubExternals.resizeImage(bytes, w, h)
    try {
      // Header-only dimension gate BEFORE the decode: ImageIO.read
      // allocates the full raster from the header's CLAIM, so a
      // 200-byte crafted PNG declaring 40000x40000 is a ~6 GB
      // allocation — and OutOfMemoryError is an Error the catch below
      // never sees. Over-cap or unreadable dimensions keep the
      // fixture-stub semantics like any other undecodable payload.
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new ByteArrayInputStream(bytes))
      val claimed =
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) -1L
          else {
            val r = readers.next()
            try { r.setInput(iis); r.getWidth(0).toLong * r.getHeight(0) }
            finally r.dispose()
          }
        } finally iis.close()
      if (claimed <= 0 || claimed > MaxDecodePixels)
        return StubExternals.resizeImage(bytes, w, h)
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) return StubExternals.resizeImage(bytes, w, h)
      val hasAlpha = img.getColorModel.hasAlpha
      val outType =
        if (hasAlpha && fmt != "jpg" && fmt != "bmp")
          java.awt.image.BufferedImage.TYPE_INT_ARGB
        else java.awt.image.BufferedImage.TYPE_INT_RGB
      val scaled = img.getScaledInstance(
        w, h, java.awt.Image.SCALE_AREA_AVERAGING)
      val out = new java.awt.image.BufferedImage(w, h, outType)
      val g = out.createGraphics()
      try g.drawImage(scaled, 0, 0, null) finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      val wfmt = if (fmt == "gif") "png" else fmt
      if (!javax.imageio.ImageIO.write(out, wfmt, bos))
        return StubExternals.resizeImage(bytes, w, h)
      bos.toByteArray
    } catch {
      case _: Exception => StubExternals.resizeImage(bytes, w, h)
    }
  }

  /** Decode raster cap: 1<<26 pixels (8192x8192; ~268 MB as INT_ARGB)
    * — far above any thumbnail-pipeline input, far below an
    * executor-killing claim. */
  private val MaxDecodePixels = 1L << 26

  /** ImageIO writer format for the sniffed container, null = not an
    * image this JDK decodes. */
  private def imageFormat(b: Array[Byte]): String =
    if (b == null || b.length < 4) null
    else if ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      "png"
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpg"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "gif"
    else null

  override def decodeAudio(bytes: Array[Byte]): (Array[Float], Int) = {
    // MPEG audio first: stock JDK SPIs reject it, and Layer III decodes
    // natively for Mp3Layer3's class (spectral count1 lines, silence,
    // ID3/APE tags). Streams needing ISO print tables fall through with
    // a pointed UnsupportedOperationException naming the SPI seam.
    val mpegSync = bytes.length >= 4 &&
      ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xe0) == 0xe0 ||
        bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3')
    if (mpegSync) // disjoint from RIFF/FORM/.snd magics the SPIs handle
      return graft.operators.AudioOps.decodeMp3(bytes)
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    try {
      val base = in.getFormat
      val ch = math.max(base.getChannels, 1)
      val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        base.getSampleRate, 16, ch, ch * 2, base.getSampleRate, false)
      val pcm = AudioSystem.getAudioInputStream(target, in)
      try {
        val buf = pcm.readAllBytes()
        val n = buf.length / 2 / ch
        val out = new Array[Float](n)
        var i = 0
        while (i < n) {
          var acc = 0.0f
          var c = 0
          while (c < ch) {
            val off = (i * ch + c) * 2
            val s = ((buf(off) & 0xff) | (buf(off + 1) << 8)).toShort
            acc += s / 32768.0f
            c += 1
          }
          out(i) = acc / ch
          i += 1
        }
        (out, base.getSampleRate.toInt)
      } finally pcm.close()
    } finally in.close()
  }
}
