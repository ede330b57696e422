package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins the native Layer III spectral pipeline against an INDEPENDENT
  * direct-form implementation of the same documented equations: the
  * reference here evaluates the IMDCT, windows, alias butterflies and
  * the cosine-modulated synthesis as literal triple sums in double
  * precision with no FIFO, no sign folding and no precomputed tables —
  * a different code path from Mp3Layer3's optimized float kernels, so
  * indexing or sign errors in either implementation diverge. Frames are
  * crafted bit-by-bit (the test owns the bitstream), so the decoded
  * spectrum is known by construction.
  */
class Mp3SpectralSpec extends AnyFunSuite {

  // ------------------------------------------------- bitstream writer
  private class BitWriter {
    private val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
    def write(v: Int, n: Int): this.type = {
      var i = n - 1
      while (i >= 0) { bits += ((v >> i) & 1); i -= 1 }
      this
    }
    def size: Int = bits.size
    def toBytes(padTo: Int): Array[Byte] = {
      val out = new Array[Byte](padTo)
      var i = 0
      while (i < bits.size) {
        if (bits(i) == 1) out(i / 8) = (out(i / 8) | (1 << (7 - (i % 8)))).toByte
        i += 1
      }
      out
    }
  }

  /** One count1 quad: 4 values in {-1,0,1} for lines 4q..4q+3. */
  private def writeQuad(w: BitWriter, vals: Seq[Int]): Unit = {
    require(vals.length == 4 && vals.forall(v => v >= -1 && v <= 1))
    val pattern = vals.map(v => if (v == 0) 0 else 1)
      .foldLeft(0)((acc, b) => (acc << 1) | b)
    w.write((~pattern) & 0xf, 4) // count1 table B: ones' complement
    vals.foreach(v => if (v != 0) w.write(if (v < 0) 1 else 0, 1))
  }

  /** Craft one MPEG1 L3 mono 44.1 kHz / 128 kbps frame (417 B): gr0
    * carries the given count1 quads at global_gain gg; gr1 carries
    * `quadsGr1` (default silent) at the same gain — two audible
    * granules exercise CONTIGUOUS granule reads from one main-data
    * buffer (gr1's bits start exactly at gr0's part2_3 boundary). */
  private def frame(gg: Int, quads: Seq[Seq[Int]],
      stereoDup: Boolean = false,
      quadsGr1: Seq[Seq[Int]] = Seq.empty): Array[Byte] = {
    val main = new BitWriter
    quads.foreach(writeQuad(main, _))
    val p23 = main.size
    quadsGr1.foreach(writeQuad(main, _))
    val p23g1 = main.size - p23
    def granuleBits(w: BitWriter, p23Len: Int): Unit = {
      w.write(p23Len, 12).write(0, 9).write(gg, 8).write(0, 4).write(0, 1)
      w.write(0, 5).write(0, 5).write(0, 5) // table_select: 0,0,0
      w.write(0, 4).write(0, 3)             // region counts
      w.write(0, 1).write(0, 1).write(1, 1) // pre, sfs, count1 table B
    }
    if (!stereoDup) {
      val side = new BitWriter
      side.write(0, 9).write(0, 5).write(0, 4) // mdb, private, scfsi
      granuleBits(side, p23); granuleBits(side, p23g1)
      val out = new Array[Byte](417)
      out(0) = 0xff.toByte; out(1) = 0xfb.toByte
      out(2) = 0x90.toByte // 128 kbps, 44.1 kHz, no padding
      out(3) = 0xc0.toByte // mono
      System.arraycopy(side.toBytes(17), 0, out, 4, 17)
      val mainBits = main
      val mainBytes = mainBits.toBytes((main.size + 7) / 8)
      System.arraycopy(mainBytes, 0, out, 21, mainBytes.length)
      out
    } else {
      // stereo (mode 0, modeExt 0): both channels carry IDENTICAL data
      val side = new BitWriter
      side.write(0, 9).write(0, 3).write(0, 8) // mdb, private, scfsi x2
      granuleBits(side, p23); granuleBits(side, p23) // gr0 ch0, ch1
      granuleBits(side, 0); granuleBits(side, 0)     // gr1
      val out = new Array[Byte](417)
      out(0) = 0xff.toByte; out(1) = 0xfb.toByte
      out(2) = 0x90.toByte; out(3) = 0x00.toByte // stereo
      System.arraycopy(side.toBytes(32), 0, out, 4, 32)
      val dup = new BitWriter
      quads.foreach(writeQuad(dup, _)); quads.foreach(writeQuad(dup, _))
      val mainBytes = dup.toBytes((2 * p23 + 7) / 8)
      System.arraycopy(mainBytes, 0, out, 36, mainBytes.length)
      out
    }
  }

  /** Overwrite `n` bits of a CRC-less frame's side info (which starts 4
    * bytes into the frame at `frameOff`) with `v`, MSB first. */
  private def setSideBits(buf: Array[Byte], frameOff: Int, startBit: Int,
      v: Int, n: Int): Unit = {
    var i = 0
    while (i < n) {
      val bit = (v >> (n - 1 - i)) & 1
      val abs = (frameOff + 4) * 8 + startBit + i
      val mask = 1 << (7 - (abs % 8))
      if (bit == 1) buf(abs / 8) = (buf(abs / 8) | mask).toByte
      else buf(abs / 8) = (buf(abs / 8) & ~mask).toByte
      i += 1
    }
  }

  // -------------------------------- independent direct-form reference
  /** The spec's IMDCT windows for block types 0 (normal), 1 (start) and
    * 3 (stop), double precision. */
  private def refWindow(blockType: Int, i: Int): Double = blockType match {
    case 0 => math.sin(math.Pi / 36.0 * (i + 0.5))
    case 1 =>
      if (i < 18) math.sin(math.Pi / 36.0 * (i + 0.5))
      else if (i < 24) 1.0
      else if (i < 30) math.sin(math.Pi / 12.0 * (i - 18 + 0.5))
      else 0.0
    case 3 =>
      if (i < 6) 0.0
      else if (i < 12) math.sin(math.Pi / 12.0 * (i - 6 + 0.5))
      else if (i < 18) 1.0
      else math.sin(math.Pi / 36.0 * (i + 0.5))
  }

  /** Full pipeline from known spectral lines, double precision, literal
    * ISO equations, no table/FIFO sharing with Mp3Layer3 beyond the
    * (data) synthesis prototype. One granule per call; caller threads
    * overlap and slot history. */
  private class RefPipeline {
    val overlap: Array[Array[Double]] = Array.fill(32)(new Array[Double](18))
    val history = scala.collection.mutable.ArrayBuffer.empty[Array[Double]] // subband slots
    def granule(xr0: Array[Double]): Array[Double] = {
      val xr = xr0.clone()
      // alias butterflies
      val ci = Array(-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142, -0.0037)
      for (sb <- 1 until 32; i <- 0 until 8) {
        val cs = 1.0 / math.sqrt(1.0 + ci(i) * ci(i))
        val ca = ci(i) * cs
        val a = xr(18 * sb - 1 - i); val b = xr(18 * sb + i)
        xr(18 * sb - 1 - i) = a * cs - b * ca
        xr(18 * sb + i) = b * cs + a * ca
      }
      synth(imdct(xr, 0))
    }
    /** IMDCT 36, window, overlap-add, frequency inversion: (time)(subband). */
    def imdct(xr: Array[Double], blockType: Int): Array[Array[Double]] = {
      val slots = Array.fill(18)(new Array[Double](32))
      for (sb <- 0 until 32) {
        val z = Array.tabulate(36) { i =>
          (0 until 18).map(k => xr(sb * 18 + k) *
            math.cos(math.Pi / 72.0 * (2 * i + 1 + 18) * (2 * k + 1))).sum *
            refWindow(blockType, i)
        }
        for (i <- 0 until 18) {
          var v = z(i) + overlap(sb)(i)
          if (sb % 2 == 1 && i % 2 == 1) v = -v
          slots(i)(sb) = v
          overlap(sb)(i) = z(18 + i)
        }
      }
      slots
    }
    /** Synthesis: literal x(j) = 32 sum_m sum_k S_{t-m}(k) g(32m+j) cos(...). */
    def synth(slots: Array[Array[Double]]): Array[Double] = {
      val out = new Array[Double](32 * slots.length)
      for (t <- slots.indices) {
        history += slots(t)
        for (j <- 0 until 32) {
          var acc = 0.0
          for (m <- 0 until 16; k <- 0 until 32) {
            val s = if (history.size - 1 - m >= 0) history(history.size - 1 - m)(k) else 0.0
            val i = 32 * m + j
            acc += s * Mp3Layer3.synthProto(i) *
              math.cos(math.Pi / 32.0 * (k + 0.5) * (i - 16))
          }
          out(t * 32 + j) = 32.0 * acc
        }
      }
      out
    }
  }

  private def quadLines(quads: Seq[Seq[Int]], gain: Double): Array[Double] = {
    val xr = new Array[Double](576)
    quads.zipWithIndex.foreach { case (q, qi) =>
      q.zipWithIndex.foreach { case (v, j) => xr(4 * qi + j) = v * gain }
    }
    xr
  }

  test("count1-B frames decode sample-exactly against the direct-form reference") {
    val quads = Seq(Seq(1, 0, 0, 0), Seq(0, -1, 0, 1))
    val gg = 210 // gain 1.0
    val bytes = Array.concat(frame(gg, quads), frame(gg, quads), frame(gg, quads))
    val (pcm, sr) = AudioOps.decodeMp3(bytes)
    assert(sr == 44100 && pcm.length == 3 * 1152)
    assert(pcm.exists(math.abs(_) > 0.01), "spectral frame must be audible")
    val ref = new RefPipeline
    val want = Array.newBuilder[Double]
    for (_ <- 0 until 3) {
      want ++= ref.granule(quadLines(quads, 1.0)) // gr0: quads
      want ++= ref.granule(new Array[Double](576)) // gr1: silent
    }
    val w = want.result()
    var maxDiff = 0.0
    for (i <- pcm.indices) maxDiff = math.max(maxDiff, math.abs(pcm(i) - w(i)))
    assert(maxDiff < 2e-5, s"native pipeline diverges from reference: $maxDiff")
  }

  test("randomized count1 content + gains match the reference (property)") {
    val rnd = new scala.util.Random(20260815L)
    for (_ <- 0 until 5) {
      val nQuads = 1 + rnd.nextInt(12)
      val quads = Seq.fill(nQuads)(Seq.fill(4)(rnd.nextInt(3) - 1))
      val gg = 180 + rnd.nextInt(31) // gains 2^-7.5 .. 1.0
      val bytes = Array.concat(frame(gg, quads), frame(210 - 8, quads))
      val (pcm, _) = AudioOps.decodeMp3(bytes)
      val ref = new RefPipeline
      val gain1 = math.pow(2.0, (gg - 210) / 4.0)
      val gain2 = math.pow(2.0, -2.0)
      val w = (ref.granule(quadLines(quads, gain1)) ++
        ref.granule(new Array[Double](576)) ++
        ref.granule(quadLines(quads, gain2)) ++
        ref.granule(new Array[Double](576))).toArray
      var maxDiff = 0.0
      for (i <- pcm.indices) maxDiff = math.max(maxDiff, math.abs(pcm(i) - w(i)))
      assert(maxDiff < 2e-5, s"property run diverged: $maxDiff (quads=$quads gg=$gg)")
    }
  }

  test("stereo frame with duplicated channels decodes like its mono twin") {
    val quads = Seq(Seq(0, 1, 0, -1))
    val m = AudioOps.decodeMp3(Array.concat(frame(200, quads), frame(200, quads)))._1
    val s = AudioOps.decodeMp3(
      Array.concat(frame(200, quads, stereoDup = true),
        frame(200, quads, stereoDup = true)))._1
    assert(m.length == s.length)
    var maxDiff = 0.0
    for (i <- m.indices) maxDiff = math.max(maxDiff, math.abs(m(i) - s(i)))
    assert(maxDiff < 1e-6, "channel-average of identical channels must equal mono")
  }

  test("two audible granules read contiguously from one main-data buffer") {
    // gr1's bits begin exactly where gr0's part2_3_length ends — a
    // bit-offset bookkeeping error between granules diverges loudly.
    val g0 = Seq(Seq(1, 0, 0, 0), Seq(0, 0, -1, 1))
    val g1 = Seq(Seq(-1, 1, 0, 0), Seq(0, 1, 0, 0), Seq(1, 1, 1, 1))
    val bytes = Array.concat(
      frame(208, g0, quadsGr1 = g1), frame(208, g0, quadsGr1 = g1))
    val (pcm, _) = AudioOps.decodeMp3(bytes)
    val gain = math.pow(2.0, (208 - 210) / 4.0)
    val ref = new RefPipeline
    val w = (ref.granule(quadLines(g0, gain)) ++ ref.granule(quadLines(g1, gain)) ++
      ref.granule(quadLines(g0, gain)) ++ ref.granule(quadLines(g1, gain))).toArray
    assert(pcm.length == w.length)
    var maxDiff = 0.0
    for (i <- pcm.indices) maxDiff = math.max(maxDiff, math.abs(pcm(i) - w(i)))
    assert(maxDiff < 2e-5, s"contiguous-granule decode diverged: $maxDiff")
    // and both granules are genuinely audible
    assert(pcm.take(576).exists(math.abs(_) > 0.01) &&
      pcm.slice(576, 1152).exists(math.abs(_) > 0.01))
  }

  test("M/S joint stereo: silent side channel halves the mono energy by exactly sqrt(2)") {
    // mode 1 (joint stereo) + modeExt 2 (MS on, intensity off), ch0 =
    // the quad data (mid), ch1 silent (side = 0): L = R = M/sqrt(2), so
    // the channel-average mixdown equals the mono decode scaled by
    // 1/sqrt(2) — a closed-form pin on the M/S matrix.
    val quads = Seq(Seq(1, 0, -1, 0))
    def msFrame(): Array[Byte] = {
      val main = new BitWriter
      quads.foreach(writeQuad(main, _))
      val p23 = main.size
      val side = new BitWriter
      side.write(0, 9).write(0, 3).write(0, 8) // mdb, private, scfsi x2
      def gbits(p23Len: Int): Unit = {
        side.write(p23Len, 12).write(0, 9).write(205, 8).write(0, 4).write(0, 1)
        side.write(0, 5).write(0, 5).write(0, 5).write(0, 4).write(0, 3)
        side.write(0, 1).write(0, 1).write(1, 1)
      }
      gbits(p23); gbits(0) // gr0: ch0 audible, ch1 silent
      gbits(0); gbits(0)   // gr1 silent
      val out = new Array[Byte](417)
      out(0) = 0xff.toByte; out(1) = 0xfb.toByte
      out(2) = 0x90.toByte
      out(3) = 0x60.toByte // mode 01 (joint) + modeExt 10 (MS only)
      System.arraycopy(side.toBytes(32), 0, out, 4, 32)
      System.arraycopy(main.toBytes((p23 + 7) / 8), 0, out, 36, (p23 + 7) / 8)
      out
    }
    val ms = AudioOps.decodeMp3(Array.concat(msFrame(), msFrame()))._1
    val mono = AudioOps.decodeMp3(
      Array.concat(frame(205, quads), frame(205, quads)))._1
    assert(ms.length == mono.length)
    val s2 = math.sqrt(2.0)
    var maxDiff = 0.0
    for (i <- ms.indices)
      maxDiff = math.max(maxDiff, math.abs(ms(i) * s2 - mono(i)))
    assert(maxDiff < 2e-5, s"M/S matrix diverged from the closed form: $maxDiff")
  }

  test("bit reservoir: granule data addressed via main_data_begin decodes identically") {
    // Frame 1 carries the quads in ITS main data (mdb=0) and pads the
    // rest with ancillary zeros... except the LAST byte, where frame 2's
    // granule bits are parked. Frame 2 sets main_data_begin = 1 so its
    // gr0 reads from that reservoir byte; frame 2's own main region is
    // ancillary. The decoded PCM must equal the plain two-frame stream.
    val quads = Seq(Seq(1, 0, 0, 0)) // 5 bits -> one byte 0x70
    val f1 = frame(210, quads)
    f1(416) = 0x70.toByte // reservoir byte: frame 2's gr0 bits
    val f2 = frame(210, quads)
    java.util.Arrays.fill(f2, 21, 417, 0.toByte) // clear f2's own main data
    // set f2's main_data_begin = 1 (first 9 bits of side info)
    f2(4) = 0x00.toByte; f2(5) = (f2(5) | 0x80).toByte // 9-bit field: 000000001
    val viaReservoir = AudioOps.decodeMp3(Array.concat(f1, f2))._1
    val plain = AudioOps.decodeMp3(
      Array.concat(frame(210, quads), frame(210, quads)))._1
    assert(viaReservoir.length == plain.length)
    var maxDiff = 0.0
    for (i <- viaReservoir.indices)
      maxDiff = math.max(maxDiff, math.abs(viaReservoir(i) - plain(i)))
    assert(maxDiff == 0.0, s"reservoir-addressed granule diverged: $maxDiff")
    // and an unreachable main_data_begin is a loud framing error
    val bad = frame(210, quads)
    bad(4) = 0x00.toByte; bad(5) = (bad(5) | 0x80).toByte // mdb=1, no history
    intercept[IllegalArgumentException](AudioOps.decodeMp3(bad))
  }

  test("audible-to-silent transition carries the filterbank ringing tail") {
    val bytes = Array.concat(frame(210, Seq(Seq(1, 1, 1, 1))),
      { val f = new Array[Byte](417)
        f(0) = 0xff.toByte; f(1) = 0xfb.toByte; f(2) = 0x90.toByte; f(3) = 0xc0.toByte; f })
    val (pcm, _) = AudioOps.decodeMp3(bytes)
    assert(pcm.length == 2 * 1152)
    // the silent frame's PCM is the pipeline tail, not hard zeros
    assert(pcm.slice(1152, 1152 + 576).exists(_ != 0.0f),
      "overlap/FIFO tail must ring into the silent frame")
  }

  test("unsupported classes throw pointed seam errors; tag tails end cleanly") {
    // big-value table select != 0
    val bv = frame(210, Seq(Seq(1, 0, 0, 0)))
    // set big_values=2 and table_select(0)=1 inside gr0:
    // side bits: mdb 9 + priv 5 + scfsi 4 = 18; gr0: p23(12) ends at 30,
    // big_values 9 ends at 39; gg 8 at 47; sfc 4 at 51; wsf 1 at 52;
    // tsel0 5 bits at 57.
    setSideBits(bv, 0, 30, 2, 9); setSideBits(bv, 0, 52, 1, 5)
    val e1 = intercept[UnsupportedOperationException](AudioOps.decodeMp3(bv))
    assert(e1.getMessage.contains("Huffman tables"))
    // count1 table A
    val a = frame(210, Seq(Seq(1, 0, 0, 0)))
    setSideBits(a, 0, 18 + 58, 0, 1) // count1table_select bit (last of gr0's 59)
    val e2 = intercept[UnsupportedOperationException](AudioOps.decodeMp3(a))
    assert(e2.getMessage.contains("table A"))
    // Layer II routes to the seam, not an IllegalArgumentException
    val l2 = frame(210, Seq(Seq(1, 0, 0, 0)))
    l2(1) = 0xfd.toByte // layer bits 10 -> Layer II
    val e3 = intercept[UnsupportedOperationException](AudioOps.decodeMp3(l2))
    assert(e3.getMessage.contains("Layer 2"))
    // ID3v1 "TAG" tail (128 B) and APETAGEX tail end the walk cleanly
    val tag = new Array[Byte](128); tag(0) = 'T'; tag(1) = 'A'; tag(2) = 'G'
    assert(AudioOps.decodeMp3(Array.concat(frame(210, Seq(Seq(1, 0, 0, 0))), tag))
      ._1.length == 1152)
    val ape = new Array[Byte](32)
    "APETAGEX".zipWithIndex.foreach { case (c, i) => ape(i) = c.toByte }
    assert(AudioOps.decodeMp3(Array.concat(frame(210, Seq(Seq(1, 0, 0, 0))), ape))
      ._1.length == 1152)
    // ID3v2.4 footer flag: skip = 10 + size + 10
    val id3 = new Array[Byte](40)
    id3(0) = 'I'; id3(1) = 'D'; id3(2) = '3'; id3(3) = 4
    id3(5) = 0x10.toByte // footer present
    id3(9) = 20 // syncsafe size
    assert(AudioOps.decodeMp3(Array.concat(id3, frame(210, Seq(Seq(1, 0, 0, 0)))))
      ._1.length == 1152)
  }

  test("impulse-response peak constant for the fixture oracle") {
    // a single +1 line at gg=210: the decoded peak is the frozen
    // constant genMp3s encodes into audible-fixture filenames. Printed
    // here so the constant is reproducible; pinned to 1e-4.
    val (pcm, _) = AudioOps.decodeMp3(frame(210, Seq(Seq(1, 0, 0, 0))))
    val peak = pcm.map(math.abs).max
    info(f"single-line impulse peak at gg=210: $peak%.6f")
    assert(peak > 0.001)
    // repeated-excitation steady state (what the audible fixture files
    // carry): peak over a 6-frame stream, tails superposed. genMp3s
    // freezes floor(peak(gg) * 1000) from this constant; the pin is
    // 1e-4-tight so a pipeline change (prototype, window, gain ladder)
    // breaks the mm_mp3_decode oracle loudly.
    val rep = Array.concat(Seq.fill(6)(frame(206, Seq(Seq(1, 0, 0, 0)))): _*)
    val (pcm6, _) = AudioOps.decodeMp3(rep)
    val peak6 = pcm6.map(math.abs).max
    info(f"6-frame steady-state peak at gg=206: $peak6%.6f")
    assert(math.abs(peak6 - graft.queries.IoQueries.Mp3AudiblePeakGg206) < 1e-4,
      s"steady-state peak moved: $peak6 - re-freeze IoQueries.Mp3AudiblePeakGg206")
  }

  test("full-band IMDCT (block types 0, 1, 3) and synthesis match the direct form") {
    // Granules 0-3 and 7 carry nonzero values in all 576 lines, so both
    // halves of the synthesis butterflies and every branch of the DCT-IV
    // unfold carry signal. Subbands 19 and 20 go nonzero -> zero (4) ->
    // nonzero (5), and 31 is zero in 5 and 6: the zero-subband skip with
    // a live overlap, on odd and even subbands. Subbands 2-15 are zero in
    // 5 and 6, so granule 6's slots are zero there and nonzero above:
    // the matrixing bound must come from the high side of each pair.
    val rnd = new scala.util.Random(20261019L)
    val runs = Seq(Seq.fill(8)(0), Seq.fill(8)(1), Seq.fill(8)(3), Seq(0, 1, 3, 0, 1, 3, 0, 1))
    var worstImdct = 0.0
    var worstPcm = 0.0
    for (types <- runs) {
      val ref = new RefPipeline
      val overlap = new Array[Float](576)
      val slots = new Array[Float](576)
      val st = new Mp3Layer3.SynthState
      val pcm = new Array[Float](576)
      for ((bt, g) <- types.zipWithIndex) {
        val xr = Array.fill(576) {
          val m = (0.25f + rnd.nextFloat()) * 8.0f
          if (rnd.nextBoolean()) m else -m
        }
        def zeroBands(from: Int, until: Int): Unit =
          java.util.Arrays.fill(xr, 18 * from, 18 * until, 0.0f)
        if (g == 4) zeroBands(19, 21)
        if (g == 5 || g == 6) { zeroBands(31, 32); zeroBands(2, 16) }
        Mp3Layer3.imdctGranule(xr, bt, overlap, slots)
        val want = ref.imdct(xr.map(_.toDouble), bt)
        val peak = want.flatten.map(math.abs).max
        var diff = 0.0
        for (t <- 0 until 18; sb <- 0 until 32)
          diff = math.max(diff, math.abs(slots(32 * t + sb) - want(t)(sb)))
        assert(diff <= 2e-6 * peak,
          s"IMDCT diverged (types $types, granule $g): $diff at peak $peak")
        worstImdct = math.max(worstImdct, diff / peak)
        // synthesis of the kernel's own slots, against the literal sum
        var t = 0
        while (t < 18) { Mp3Layer3.synthSlot(slots, 32 * t, st, pcm, 32 * t); t += 1 }
        val wantPcm = ref.synth(Array.tabulate(18, 32)((t, sb) => slots(32 * t + sb).toDouble))
        val pcmPeak = wantPcm.map(math.abs).max
        var pcmDiff = 0.0
        for (i <- 0 until 576) pcmDiff = math.max(pcmDiff, math.abs(pcm(i) - wantPcm(i)))
        assert(pcmDiff <= 2e-6 * pcmPeak,
          s"synthesis diverged (types $types, granule $g): $pcmDiff at peak $pcmPeak")
        worstPcm = math.max(worstPcm, pcmDiff / pcmPeak)
      }
    }
    info(f"worst |diff| / peak: IMDCT $worstImdct%.2e, synthesis $worstPcm%.2e")
  }

  test("an all-zero short-block granule emits its overlap; a nonzero one is refused") {
    val overlap = Array.tabulate(576)(i => (i % 7) - 3.0f)
    val want = overlap.clone()
    val slots = new Array[Float](576)
    Mp3Layer3.imdctGranule(new Array[Float](576), 2, overlap, slots)
    for (sb <- 0 until 32; t <- 0 until 18) {
      val v = want(18 * sb + t)
      assert(slots(32 * t + sb) == (if (sb % 2 == 1 && t % 2 == 1) -v else v))
    }
    assert(overlap.forall(_ == 0.0f))
    val xr = new Array[Float](576); xr(40) = 1.0f
    intercept[UnsupportedOperationException](
      Mp3Layer3.imdctGranule(xr, 2, overlap, slots))
  }

  test("hostile bytes raise only IllegalArgumentException or UnsupportedOperationException") {
    // Generator-style count1 streams, then one seeded mutation each: bit
    // flips, truncation mid-frame, a foreign header spliced in, or an
    // out-of-range side-info field (main_data_begin, part2_3_length,
    // big_values, window switching / block type).
    val rnd = new scala.util.Random(20261019L)
    def quads(): Seq[Seq[Int]] = Seq.fill(rnd.nextInt(16))(Seq.fill(4)(rnd.nextInt(3) - 1))
    def stream(): Array[Byte] = Array.concat(Seq.fill(2 + rnd.nextInt(3)) {
      if (rnd.nextInt(4) == 0) frame(150 + rnd.nextInt(61), quads(), stereoDup = true)
      else frame(150 + rnd.nextInt(61), quads(), quadsGr1 = quads())
    }: _*)
    val headers = Seq(
      Array(0xff, 0xfb, 0x90, 0x00), // MPEG1 L3 stereo
      Array(0xff, 0xfb, 0x90, 0x60), // joint stereo, M/S
      Array(0xff, 0xfb, 0x90, 0x50), // joint stereo, intensity
      Array(0xff, 0xfa, 0x90, 0xc0), // CRC-protected
      Array(0xff, 0xfb, 0x92, 0xc0), // padded
      Array(0xff, 0xfb, 0x10, 0xc0), // 32 kbit/s: short frame
      Array(0xff, 0xf3, 0x90, 0xc0), // MPEG2 (LSF)
      Array(0xff, 0xe3, 0x90, 0xc0), // MPEG2.5
      Array(0xff, 0xfd, 0x90, 0xc0), // Layer II
      Array(0xff, 0xf9, 0x90, 0xc0), // reserved layer
      Array(0xff, 0xfb, 0x00, 0xc0), // free format
      Array(0xff, 0xfb, 0xf0, 0xc0), // bad bitrate
      Array(0xff, 0xfb, 0x9c, 0xc0), // reserved sample rate
      Array(0xff, 0xeb, 0x90, 0xc0)  // reserved version
    ).map(_.map(_.toByte))
    var outcomes = Map.empty[String, Int]
    for (iter <- 0 until 4000) {
      val b = stream()
      val nFrames = b.length / 417
      val f = 417 * rnd.nextInt(nFrames)
      val mono = (b(f + 3) & 0xc0) == 0xc0
      val kind = iter % 4
      val hostile = kind match {
        case 0 => // bit flips
          for (_ <- 0 until 1 + rnd.nextInt(16)) {
            val bit = rnd.nextInt(b.length * 8)
            b(bit / 8) = (b(bit / 8) ^ (1 << (7 - bit % 8))).toByte
          }
          b
        case 1 => // truncation
          b.take(4 + rnd.nextInt(b.length - 4))
        case 2 => // a foreign header, or the tail of another stream, spliced in
          if (rnd.nextBoolean()) {
            val h = headers(rnd.nextInt(headers.length))
            val at = if (rnd.nextBoolean()) f else rnd.nextInt(b.length - 4)
            System.arraycopy(h, 0, b, at, 4)
            b
          } else {
            val other = stream()
            Array.concat(b.take(rnd.nextInt(b.length)), other.drop(rnd.nextInt(other.length)))
          }
        case _ => // one side-info field out of range
          val grBits = if (mono) 18 else 20
          val g = grBits + 59 * rnd.nextInt(if (mono) 2 else 4)
          rnd.nextInt(4) match {
            case 0 => setSideBits(b, f, 0, rnd.nextInt(512), 9)        // main_data_begin
            case 1 => setSideBits(b, f, g, rnd.nextInt(4096), 12)      // part2_3_length
            case 2 => setSideBits(b, f, g + 12, rnd.nextInt(512), 9)   // big_values
            case _ => setSideBits(b, f, g + 33, rnd.nextInt(16), 4)    // switching, type, mixed
          }
          b
      }
      val outcome =
        try { AudioOps.decodeMp3(hostile); "decoded" }
        catch {
          case _: IllegalArgumentException => "IllegalArgumentException"
          case _: UnsupportedOperationException => "UnsupportedOperationException"
          case e: Throwable =>
            fail(s"mutation kind $kind (iteration $iter) raised ${e.getClass.getName}: ${e.getMessage}", e)
        }
      outcomes += outcome -> (outcomes.getOrElse(outcome, 0) + 1)
    }
    info(s"outcomes: $outcomes")
    assert(outcomes.size == 3, s"the fuzz must reach every outcome: $outcomes")
  }
}
