package graft.operators

/** Float-array audio DSP kernels (SURVEY §2.1 S11 / §2.4 A10 / §3.2):
  * the reference's librosa/numpy pipeline re-expressed as pure JVM
  * functions over `Array[Float]` — usable inside typed Dataset ops or
  * wrapped as UDFs. Resampling is linear-interpolation (documented
  * approximation of librosa's polyphase filter, SURVEY §7.5); peak
  * normalization and concat are exact.
  */
object AudioOps {

  /** 16-bit little-endian PCM decode of a wav's data chunk (canonical
    * 44-byte header) -> mono float32 in [-1, 1) + sample rate. Real byte
    * parsing — the stand-in for mp3 decode, which needs external codecs
    * (stubbed behind pipeline Externals). */
  def decodePcm16Wav(bytes: Array[Byte]): (Array[Float], Int) = {
    def le16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def le32(o: Int) = (bytes(o) & 0xff).toLong | ((bytes(o + 1) & 0xff).toLong << 8) |
      ((bytes(o + 2) & 0xff).toLong << 16) | ((bytes(o + 3) & 0xff).toLong << 24)
    val sr = le32(24).toInt
    val channels = math.max(le16(22), 1)
    val dataBytes = math.min(le32(40), (bytes.length - 44).toLong).toInt
    val n = dataBytes / 2 / channels
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      // mono mixdown: average channels (librosa mono=True semantics)
      var acc = 0.0f
      var c = 0
      while (c < channels) {
        val off = 44 + (i * channels + c) * 2
        val s = ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort
        acc += s / 32768.0f
        c += 1
      }
      out(i) = acc / channels
      i += 1
    }
    (out, sr)
  }

  /** K6 sink kernel — inverse of [[decodePcm16Wav]]: mono float32 ->
    * canonical 44-byte-header 16-bit little-endian PCM wav bytes
    * (reference pre_processing/process_all.py:429-432 soundfile.write,
    * alignment/aeneas_batch_align.py:329-370 per-utterance writes).
    * Samples are clamped to [-1, 1); decode(encode(decode(x))) is
    * byte-exact because quantization round-trips s/32768 -> s.
    */
  def encodePcm16Wav(samples: Array[Float], sr: Int): Array[Byte] = {
    val dataBytes = samples.length * 2
    val out = new Array[Byte](44 + dataBytes)
    def putAscii(o: Int, s: String): Unit = {
      var i = 0; while (i < s.length) { out(o + i) = s.charAt(i).toByte; i += 1 }
    }
    def putLe16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    def putLe32(o: Int, v: Long): Unit = {
      var i = 0; while (i < 4) { out(o + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    }
    putAscii(0, "RIFF"); putLe32(4, 36L + dataBytes); putAscii(8, "WAVE")
    putAscii(12, "fmt "); putLe32(16, 16L)
    putLe16(20, 1) // PCM
    putLe16(22, 1) // mono
    putLe32(24, sr.toLong)
    putLe32(28, sr.toLong * 2) // byte rate
    putLe16(32, 2)  // block align
    putLe16(34, 16) // bits per sample
    putAscii(36, "data"); putLe32(40, dataBytes.toLong)
    var i = 0
    while (i < samples.length) {
      val q = math.round(samples(i) * 32768.0f)
      val s = math.max(-32768, math.min(32767, q))
      putLe16(44 + i * 2, s & 0xffff)
      i += 1
    }
    out
  }

  /** Peak-normalize to `target` of full scale (process_all.py:400-407):
    * scale so max |x| == target; silent/empty audio passes through. */
  def peakNormalize(samples: Array[Float], target: Float = 0.95f): Array[Float] = {
    var peak = 0.0f
    var i = 0
    while (i < samples.length) {
      val a = math.abs(samples(i)); if (a > peak) peak = a; i += 1
    }
    if (peak == 0.0f) samples
    else {
      val k = target / peak
      val out = new Array[Float](samples.length)
      i = 0
      while (i < samples.length) { out(i) = samples(i) * k; i += 1 }
      out
    }
  }

  /** Linear-interpolation resample srIn -> srOut (approximates librosa's
    * polyphase resampler, process_all.py:394-398). Identity when rates
    * match. */
  def linearResample(samples: Array[Float], srIn: Int, srOut: Int): Array[Float] = {
    if (srIn == srOut || samples.isEmpty) return samples
    // srIn arrives from an untrusted wav header: a crafted tiny rate
    // (sr=1) multiplies the output length by srOut and the former
    // .toInt silently WRAPPED — a wrong-sized array or a negative-size
    // throw, and at best a multi-GB allocation. Same materialization
    // bound as decodeMp3: fail the record loudly (require -> task
    // error), never wrap.
    val n64 = math.round(samples.length.toLong * srOut / srIn.toDouble)
    require(n64 <= Int.MaxValue,
      s"resample $srIn -> $srOut Hz of ${samples.length} samples " +
        s"would materialize $n64 samples (header likely corrupt)")
    val n = math.max(1, n64.toInt)
    val out = new Array[Float](n)
    val step = (samples.length - 1).toDouble / math.max(n - 1, 1)
    var i = 0
    while (i < n) {
      val pos = i * step
      val lo = pos.toInt
      val hi = math.min(lo + 1, samples.length - 1)
      val frac = (pos - lo).toFloat
      out(i) = samples(lo) * (1 - frac) + samples(hi) * frac
      i += 1
    }
    out
  }

  /** Ordered concat (np.concatenate, process_all.py:428). The length
    * sum runs in Long with the decodeMp3 materialization bound — an
    * Int sum over many parts wraps silently into a wrong-sized (or
    * negative-sized) allocation. */
  def concatParts(parts: Seq[Array[Float]]): Array[Float] = {
    val total = parts.iterator.map(_.length.toLong).sum
    require(total <= Int.MaxValue,
      s"concat of ${parts.size} parts would materialize $total samples")
    val out = new Array[Float](total.toInt)
    var off = 0
    parts.foreach { p => System.arraycopy(p, 0, out, off, p.length); off += p.length }
    out
  }

  def durationSeconds(nSamples: Long, sr: Int): Double =
    if (sr <= 0) 0.0 else nSamples.toDouble / sr

  /** Slice [startSec, endSec) — the ffmpeg `-ss/-t -c copy` segment cut
    * done as an array slice (semantically identical, far cheaper than one
    * subprocess per segment; SURVEY §3.3). */
  def sliceSeconds(samples: Array[Float], sr: Int,
      startSec: Double, endSec: Double): Array[Float] = {
    val from = math.max(0, math.min((startSec * sr).toInt, samples.length))
    val until = math.max(from, math.min((endSec * sr).toInt, samples.length))
    java.util.Arrays.copyOfRange(samples, from, until)
  }

  /** Energy-threshold voice-activity segments — the silence-trim /
    * utterance-split primitive a TTS-corpus pipeline runs before
    * alignment (the array-kernel form of pydub.silence-style splitting,
    * reference alignment/aeneas_batch_align.py's per-utterance cuts).
    * The signal is cut into fixed `frame`-sample windows (a partial tail
    * frame is DROPPED — the DEFINED boundary rule), a frame is ACTIVE
    * iff its sum of |s| exceeds `thr`, and maximal runs of active frames
    * merge into segments of (start_frame, end_frame_exclusive).
    *
    * The per-frame sum is a sequential left-fold over ≤ `frame` floats —
    * for dyadic sample values (k/2^n, e.g. PCM16-exact) the partial sums
    * stay exactly representable, so the active set replays bit-for-bit
    * from the frame/region arithmetic alone. */
  def vadSegments(samples: Array[Float], frame: Int, thr: Float): Seq[(Int, Int)] = {
    require(frame > 0, "frame must be positive")
    val nf = samples.length / frame
    val segs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var f = 0
    var start = -1
    while (f < nf) {
      var s = 0.0f
      var i = f * frame
      val end = i + frame
      while (i < end) { s += math.abs(samples(i)); i += 1 }
      if (s > thr) { if (start < 0) start = f }
      else if (start >= 0) { segs += ((start, f)); start = -1 }
      f += 1
    }
    if (start >= 0) segs += ((start, nf))
    segs.toSeq
  }

  /** MPEG-audio Layer III decode, PCM out — real ISO/IEC 11172-3
    * framing, side info, bit-reservoir bookkeeping, and the full native
    * spectral pipeline for the class [[Mp3Layer3]] can decode without
    * fabricating the spec's printed data tables (see its object doc):
    * Huffman count1 lines, requantization, M/S stereo, alias
    * reduction, IMDCT + overlap-add, polyphase synthesis. Zero-payload
    * frames (all-zero side info) decode to spec-exact silence at ANY
    * header combination including MPEG-2/2.5 (LSF). Frames outside the
    * native class raise a pointed UnsupportedOperationException toward
    * the JavaSoundExternals SPI seam (drop an mp3 SPI jar — no code
    * change). Layer I/II streams are routed to the same seam, and
    * trailing ID3v1 ("TAG", 128 B) / APE ("APETAGEX") tags end the
    * frame walk cleanly instead of tripping the sync check.
    * (Reference decodes via librosa,
    * pre_processing/process_all.py:382-392.)
    *
    * Returns (mono samples — channel average, librosa mono=True
    * semantics — and the sample rate). On any input it either returns
    * or throws IllegalArgumentException (malformed framing) or
    * UnsupportedOperationException (outside the native class), never
    * an indexing error; `Mp3SpectralSpec` fuzzes this. Callers that
    * only gate on duration should use MultimodalOps.mp3Probe instead.
    */
  def decodeMp3(bytes: Array[Byte]): (Array[Float], Int) = {
    require(bytes != null && bytes.length >= 4, "not an MPEG audio stream")
    var o = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val size = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      // footer flag (header byte 5 bit 4): an ID3v2.4 footer adds 10
      // bytes the syncsafe size does not cover
      o = 10 + size + (if ((bytes(5) & 0x10) != 0) 10 else 0)
    }
    val kbpsL3 = Array( // Layer III rows of the ISO bitrate table
      Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320), // MPEG1
      Array(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))     // MPEG2/2.5
    val rates = Map(3 -> Array(44100, 48000, 32000),
      2 -> Array(22050, 24000, 16000), 0 -> Array(11025, 12000, 8000))

    import Mp3Layer3._
    val pcmChunks = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    var nSamples = 0L
    var sr0 = 0
    var nFrames = 0L
    // Bit reservoir: concatenated main_data across frames; each frame's
    // granule data starts main_data_begin bytes BEFORE its own
    // main_data (ISO 2.4.3.5). Capped re-buffering: only the trailing
    // 511 bytes (the 9-bit field's maximum) plus the current frame can
    // ever be addressed.
    var reservoir = new Array[Byte](0)
    // Per-channel decode state (lazily sized on the first audible frame)
    var overlaps: Array[Array[Float]] = null
    var synth: Array[SynthState] = null
    var prevSf: Array[Array[Int]] = null
    var xrs: Array[Array[Float]] = null
    val slots = new Array[Float](576) // one granule-channel's subband samples
    val chanPcm = new Array[Float](576)

    def endsWithTag(off: Int): Boolean =
      (bytes.length - off == 128 && bytes(off) == 'T' && bytes(off + 1) == 'A' &&
        bytes(off + 2) == 'G') ||
        (bytes.length - off >= 8 && bytes(off) == 'A' && bytes(off + 1) == 'P' &&
          bytes(off + 2) == 'E' && bytes(off + 3) == 'T' && bytes(off + 4) == 'A' &&
          bytes(off + 5) == 'G' && bytes(off + 6) == 'E' && bytes(off + 7) == 'X')

    while (o + 4 <= bytes.length && !endsWithTag(o)) {
      require((bytes(o) & 0xff) == 0xff && (bytes(o + 1) & 0xe0) == 0xe0,
        s"lost MPEG frame sync at offset $o")
      val ver = (bytes(o + 1) >> 3) & 3
      val layer = 4 - ((bytes(o + 1) >> 1) & 3)
      val crc = (bytes(o + 1) & 1) == 0 // protection_bit 0 => 16-bit CRC follows
      val brIdx = (bytes(o + 2) >> 4) & 0xf
      val srIdx = (bytes(o + 2) >> 2) & 3
      val pad = (bytes(o + 2) >> 1) & 1
      val mode = (bytes(o + 3) >> 6) & 3
      val modeExt = (bytes(o + 3) >> 4) & 3
      val mono = mode == 3
      require(ver != 1 && brIdx >= 1 && brIdx <= 14 && srIdx != 3,
        s"unsupported/invalid MPEG header at offset $o")
      if (layer != 3) throw new UnsupportedOperationException(
        s"MPEG Layer $layer (I/II) decode is not native; drop an mp3 SPI " +
          "jar on the executor classpath (JavaSoundExternals seam)")
      val mpeg1 = ver == 3
      val br = kbpsL3(if (mpeg1) 0 else 1)(brIdx - 1) * 1000
      val sr = rates(ver)(srIdx)
      val spf = if (mpeg1) 1152 else 576
      val len = spf / 8 * br / sr + pad
      require(o + len <= bytes.length, s"truncated MPEG frame at offset $o")
      val side =
        if (mpeg1) { if (mono) 17 else 32 } else { if (mono) 9 else 17 }
      val so = o + 4 + (if (crc) 2 else 0)
      require(so + side <= o + len, s"frame too short for side info at $o")
      val silentFrame = (so until so + side).forall(bytes(_) == 0)

      // Fast silent path ONLY while no filter state is live: with
      // all-zero side info the spectrum is zero and a zero-state
      // pipeline outputs exact digital silence. A silent frame AFTER
      // audible ones instead flows through the normal pipeline below
      // (zero spectrum in, the overlap/FIFO ringing tail out — the
      // spec-exact transition). The frame's ancillary bytes still join
      // the reservoir: a later frame's main_data_begin may address them.
      if (silentFrame && (overlaps == null || !mpeg1)) {
        pcmChunks += new Array[Float](spf)
        val mainData = java.util.Arrays.copyOfRange(bytes, so + side, o + len)
        val merged = new Array[Byte](reservoir.length + mainData.length)
        System.arraycopy(reservoir, 0, merged, 0, reservoir.length)
        System.arraycopy(mainData, 0, merged, reservoir.length, mainData.length)
        val keep = math.min(merged.length, 511)
        reservoir = java.util.Arrays.copyOfRange(merged, merged.length - keep, merged.length)
      } else if (!mpeg1) {
        throw new UnsupportedOperationException(
          "MPEG-2/2.5 (LSF) spectral decode is not native (LSF " +
            "scalefactor coding); drop an mp3 SPI jar on the executor " +
            "classpath (JavaSoundExternals seam)")
      } else {
        val ch = if (mono) 1 else 2
        if (modeExt == 1 || modeExt == 3) throw new UnsupportedOperationException(
          "intensity-stereo decode needs the scalefactor-band position " +
            "tables; drop an mp3 SPI jar (JavaSoundExternals seam)")
        val si = parseSideInfoMpeg1(bytes, so, ch)
        val mainData = java.util.Arrays.copyOfRange(bytes, so + side, o + len)
        require(si.mainDataBegin <= reservoir.length,
          s"main_data_begin ${si.mainDataBegin} references bytes before the stream start at offset $o")
        val buf = new Array[Byte](si.mainDataBegin + mainData.length)
        System.arraycopy(reservoir, reservoir.length - si.mainDataBegin, buf, 0, si.mainDataBegin)
        System.arraycopy(mainData, 0, buf, si.mainDataBegin, mainData.length)
        if (overlaps == null) {
          overlaps = Array.fill(ch)(new Array[Float](576))
          synth = Array.fill(ch)(new SynthState)
          prevSf = Array.fill(ch)(new Array[Int](21))
          xrs = Array.fill(ch)(new Array[Float](576))
        }
        require(overlaps.length == ch, s"channel-count change mid-stream at offset $o")
        val frame = new Array[Float](spf)
        val r = new BitReader(buf, 0)
        var gr = 0
        while (gr < 2) {
          var c = 0
          while (c < ch) {
            decodeSpectrum(r, si.granules(gr)(c), si.scfsi(c), gr, prevSf(c), xrs(c))
            c += 1
          }
          if (ch == 2 && modeExt == 2) { // M/S stereo: closed-form matrix
            val s2 = math.sqrt(2.0).toFloat
            var i = 0
            while (i < 576) {
              val m = xrs(0)(i); val s = xrs(1)(i)
              xrs(0)(i) = (m + s) / s2
              xrs(1)(i) = (m - s) / s2
              i += 1
            }
          }
          c = 0
          while (c < ch) {
            val g = si.granules(gr)(c)
            if (!(g.windowSwitching && g.blockType == 2)) antialias(xrs(c))
            imdctGranule(xrs(c), if (g.windowSwitching) g.blockType else 0,
              overlaps(c), slots)
            var t = 0
            while (t < 18) {
              synthSlot(slots, t * 32, synth(c), chanPcm, t * 32)
              t += 1
            }
            // mono mixdown by channel average (librosa mono=True)
            var i = 0
            while (i < 576) { frame(gr * 576 + i) += chanPcm(i) / ch; i += 1 }
            c += 1
          }
          gr += 1
        }
        pcmChunks += frame
        // roll the reservoir: keep the addressable tail (<= 511 bytes)
        val keep = math.min(buf.length, 511)
        reservoir = java.util.Arrays.copyOfRange(buf, buf.length - keep, buf.length)
      }
      if (nFrames == 0) sr0 = sr
      nFrames += 1
      nSamples += spf
      o += len
    }
    require(nFrames > 0, "no MPEG frames found")
    require(nSamples <= Int.MaxValue,
      s"MPEG stream too long to materialize as one PCM array ($nSamples samples)")
    val out = new Array[Float](nSamples.toInt)
    var off = 0
    pcmChunks.foreach { c => System.arraycopy(c, 0, out, off, c.length); off += c.length }
    (out, sr0)
  }
}
