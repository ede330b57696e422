package graft.operators

/** Native MPEG-1 Audio Layer III decode (ISO/IEC 11172-3) — the
  * spectral half of the mp3 seam (reference decodes via librosa,
  * pre_processing/process_all.py:382-392).
  *
  * EVERY ALGORITHMIC STAGE IS NATIVE: frame walk + header fields, CRC
  * skip, side-info bit layout, bit-reservoir bookkeeping
  * (main_data_begin), scalefactor read (slen pairs + scfsi), Huffman
  * count1 stage, requantization (sign·|is|^(4/3)·2^((gg−210)/4)), M/S
  * stereo matrixing, alias-reduction butterflies, 36-point IMDCT with
  * overlap-add (window types 0/1/3, closed-form sine windows),
  * frequency inversion, and the cosine-modulated polyphase synthesis
  * bank. The synthesis algebra is DERIVED, not transcribed: with
  * M(k,i) = cos(π/32·(k+0.5)·(i−16)), cos periodicity gives
  * M(k, i+64r) = (−1)^r·M(k,i), so the textbook reconstruction
  *   x(32t+j) = 32·Σ_{m=0}^{15} Σ_k S_{t−m}(k)·g(32m+j)·M(k,32m+j)
  * reduces to the ISO V-FIFO shape with the block-sign pattern explicit.
  *
  * Kernel shape (the two stages that dominate a decode):
  *   - IMDCT: one 18-point DCT-IV per subband, unfolded into the 36
  *     windowed samples by cosine symmetry (see [[imdctGranule]]); a
  *     subband whose 18 lines are all zero (the spec's rzero region)
  *     skips the transform and only emits and clears its overlap.
  *   - Synthesis matrixing: the 32-point DCT-II of the slot, computed as
  *     even/odd butterflies on (s(k), s(31−k)) over only the leading
  *     pairs that are nonzero, from which all 64 V entries follow by
  *     symmetry (see [[synthSlot]]); V lives in a flat 16-slot ring and
  *     is windowed with a copy of `synthProto` that has the block sign
  *     and the gain 32 folded in.
  * Accuracy invariant: both kernels agree with the spec's double-
  * precision direct form (literal sums, no folding, no tables) within
  * 2e-5 absolute on decoded count1 streams and 2e-6 of the peak on
  * full-band spectra (`Mp3SpectralSpec`), and the fixture peak `IoQueries.Mp3AudiblePeakGg206` holds to 1e-4,
  * so the `mm_mp3_decode` oracle's `floor(peak·1000)` does not move.
  * Decode state and scratch are per channel and per call: a decode
  * allocates no per-granule or per-slot arrays.
  *
  * What is NOT native — and throws a pointed
  * UnsupportedOperationException toward the JavaSoundExternals SPI
  * seam — is exactly the spec's PRINTED DATA, which this zero-egress
  * build does not fabricate from memory:
  *   - the big-value Huffman code tables 1–31 and count1 table A
  *     (table 0 = "no bits, all zero" and count1 table B = the trivial
  *     4-bit ones'-complement table are structural, hence native);
  *   - the scalefactor-band width tables (needed to APPLY nonzero
  *     scalefactors/preflag and to reorder short blocks);
  *   - ISO Table B.3's 512-tap synthesis prototype: the shipped
  *     prototype is a DOCUMENTED analytic stand-in (Hann-windowed sinc
  *     at the π/64 design cutoff, DC-calibrated) — deterministic and
  *     seam-replaceable for bit-ISO output, with sub-percent magnitude
  *     deviation from B.3's response;
  *   - MPEG-2/2.5 (LSF) scalefactor coding, intensity stereo, and
  *     short/mixed blocks.
  *
  * The natively decodable class is therefore: MPEG-1 Layer III, long
  * blocks, all-zero scalefactors, preflag 0, big-value regions on
  * table 0, count1 on table B, mono/stereo/M-S — which carries real
  * non-silent audio (count1 lines are ±1 before the global-gain
  * power-of-two ladder) — plus the zero-payload silent class at ANY
  * header combination (MPEG-1 and LSF), where the pipeline collapses
  * to spec-exact zeros.
  *
  * The boundary moves only when a vetted mp3 SPI jar or the printed ISO
  * tables arrive through a reviewable channel, never from memory: no
  * such jar is on this build's classpath, and a table typed from memory
  * could not be checked against anything but itself.
  */
object Mp3Layer3 {

  /** MSB-first bit reader. Reads past the buffer return zero bits (the
    * reservoir buffer ends exactly where the stream does; a granule
    * whose bit budget crosses the end is discarded by the count1
    * overshoot rule, so zero-fill is never decoded into output). */
  final class BitReader(buf: Array[Byte], startBit: Int) {
    var pos: Int = startBit // absolute bit position
    def lenBits: Int = buf.length * 8
    def read(n: Int): Int = {
      var v = 0
      var left = n
      while (left > 0) {
        val byteI = pos >>> 3
        val bitI = pos & 7
        val take = math.min(8 - bitI, left)
        val byteV = if (byteI < buf.length) buf(byteI) & 0xff else 0
        val bits = (byteV >>> (8 - bitI - take)) & ((1 << take) - 1)
        v = (v << take) | bits
        pos += take
        left -= take
      }
      v
    }
    def read1(): Int = read(1)
  }

  final case class Granule(
      part23Length: Int, bigValues: Int, globalGain: Int,
      scalefacCompress: Int, windowSwitching: Boolean, blockType: Int,
      mixedBlock: Boolean, tableSelect: Array[Int], subblockGain: Array[Int],
      region0Count: Int, region1Count: Int, preflag: Int,
      scalefacScale: Int, count1Table: Int)

  final case class SideInfo(
      mainDataBegin: Int, scfsi: Array[Array[Int]],
      granules: Array[Array[Granule]]) // (granule)(channel)

  /** scalefac_compress -> (slen1, slen2), ISO 11172-3 table. */
  private val slenTab: Array[(Int, Int)] = Array(
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3))

  def parseSideInfoMpeg1(buf: Array[Byte], byteOff: Int, channels: Int): SideInfo = {
    val r = new BitReader(buf, byteOff * 8)
    val mdb = r.read(9)
    r.read(if (channels == 1) 5 else 3) // private_bits
    val scfsi = Array.fill(channels)(Array.fill(4)(r.read1()))
    val grs = Array.fill(2) {
      Array.fill(channels) {
        val p23 = r.read(12)
        val bv = r.read(9)
        val gg = r.read(8)
        val sfc = r.read(4)
        val wsf = r.read1() == 1
        var bt = 0; var mixed = false
        val tsel = new Array[Int](3)
        val sbg = new Array[Int](3)
        var r0 = 0; var r1 = 0
        if (wsf) {
          bt = r.read(2); mixed = r.read1() == 1
          tsel(0) = r.read(5); tsel(1) = r.read(5)
          sbg(0) = r.read(3); sbg(1) = r.read(3); sbg(2) = r.read(3)
          // spec defaults when window switching is on
          r0 = if (bt == 2 && !mixed) 8 else 7; r1 = 20 - r0
        } else {
          tsel(0) = r.read(5); tsel(1) = r.read(5); tsel(2) = r.read(5)
          r0 = r.read(4); r1 = r.read(3)
        }
        val pre = r.read1(); val sfs = r.read1(); val c1t = r.read1()
        Granule(p23, bv, gg, sfc, wsf, bt, mixed, tsel, sbg, r0, r1, pre, sfs, c1t)
      }
    }
    SideInfo(mdb, scfsi, grs)
  }

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"$what needs ISO data tables not fabricated in this zero-egress " +
        "build; drop an mp3 SPI jar on the executor classpath " +
        "(JavaSoundExternals seam) for full-coverage decode")

  /** Decode one granule+channel's spectrum into 576 requantized lines,
    * overwriting `xr`. Reads from the reservoir bit reader positioned at
    * the granule's part2_3 data start. Native class only — see object
    * doc. */
  def decodeSpectrum(r: BitReader, g: Granule, scfsiCh: Array[Int],
      gr: Int, prevScalefacs: Array[Int], xr: Array[Float]): Unit = {
    java.util.Arrays.fill(xr, 0.0f)
    val start = r.pos
    if (g.part23Length == 0) return
    require(start + g.part23Length <= r.lenBits,
      s"granule bit budget ${g.part23Length} overruns the main-data reservoir")
    if (g.windowSwitching && g.blockType == 2)
      unsupported("short/mixed-block decode (scalefactor-band reorder tables)")
    // ---- scalefactors (long blocks: 11 x slen1 + 10 x slen2); a band
    // whose scfsi group is set in granule 1 keeps granule 0's value ----
    val (slen1, slen2) = slenTab(g.scalefacCompress)
    var band = 0
    while (band < 21) {
      val slen = if (band < 11) slen1 else slen2
      val group = if (band < 6) 0 else if (band < 11) 1 else if (band < 16) 2 else 3
      if (!(gr == 1 && scfsiCh(group) == 1))
        prevScalefacs(band) = if (slen > 0) r.read(slen) else 0
      band += 1
    }
    if (prevScalefacs.exists(_ != 0))
      unsupported("nonzero-scalefactor requantization (scalefactor-band width tables)")
    if (g.preflag == 1)
      unsupported("preflag pretab application (scalefactor-band width tables)")
    // ---- big values ----
    // table 0 is structural: zero lines, zero bits. Anything else is a
    // printed code table.
    if (g.bigValues > 0 && g.tableSelect.exists(_ != 0))
      unsupported(s"big-value Huffman tables ${g.tableSelect.filter(_ != 0).mkString(",")}")
    var idx = 2 * g.bigValues // table-0 regions decode to zero lines
    // ---- count1 region (table B = 4-bit ones' complement, structural;
    // table A is a printed code table) ----
    if (g.count1Table == 0 && r.pos - start < g.part23Length && idx < 576)
      unsupported("count1 Huffman table A")
    val gain = math.pow(2.0, (g.globalGain - 210) / 4.0).toFloat
    while (r.pos - start < g.part23Length && idx <= 572) {
      val before = r.pos
      val quad = (~r.read(4)) & 0xf
      var q = 0
      var ok = true
      while (q < 4 && ok) {
        if (((quad >> (3 - q)) & 1) == 1) {
          if (r.pos - start > g.part23Length) ok = false
          else xr(idx + q) = if (r.read1() == 1) -gain else gain
        }
        q += 1
      }
      if (!ok || r.pos - start > g.part23Length) {
        // overshot the granule's bit budget: discard the partial quad
        r.pos = before
        var j = 0
        while (j < 4) { xr(idx + j) = 0.0f; j += 1 }
        idx = 576 // terminate
      } else idx += 4
    }
    // skip any ancillary/stuffing to the granule boundary
    r.pos = start + g.part23Length
  }

  // ---- alias reduction (closed-form ci constants, ISO 2.4.3.4.10) ----
  private val aaCs = new Array[Float](8)
  private val aaCa = new Array[Float](8)
  locally {
    val ci = Array(-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142, -0.0037)
    var i = 0
    while (i < 8) {
      val d = math.sqrt(1.0 + ci(i) * ci(i))
      aaCs(i) = (1.0 / d).toFloat
      aaCa(i) = (ci(i) / d).toFloat
      i += 1
    }
  }

  def antialias(xr: Array[Float]): Unit = {
    var sb = 1
    while (sb < 32) {
      var i = 0
      while (i < 8) {
        val a = xr(18 * sb - 1 - i)
        val b = xr(18 * sb + i)
        xr(18 * sb - 1 - i) = a * aaCs(i) - b * aaCa(i)
        xr(18 * sb + i) = b * aaCs(i) + a * aaCa(i)
        i += 1
      }
      sb += 1
    }
  }

  // ---- IMDCT: one 18-point DCT-IV per subband + closed-form sine windows ----
  /** DCT-IV basis, flat (n)(k): cos(pi/72 (2n+1)(2k+1)). */
  private val dct4: Array[Float] = Array.tabulate(18 * 18) { nk =>
    math.cos(math.Pi / 72.0 * (2 * (nk / 18) + 1) * (2 * (nk % 18) + 1)).toFloat
  }
  private def imdctWindow(blockType: Int): Array[Float] = Array.tabulate(36) { i =>
    (blockType match {
      case 0 => math.sin(math.Pi / 36.0 * (i + 0.5))
      case 1 => // start block
        if (i < 18) math.sin(math.Pi / 36.0 * (i + 0.5))
        else if (i < 24) 1.0
        else if (i < 30) math.sin(math.Pi / 12.0 * (i - 18 + 0.5))
        else 0.0
      case 3 => // stop block
        if (i < 6) 0.0
        else if (i < 12) math.sin(math.Pi / 12.0 * (i - 6 + 0.5))
        else if (i < 18) 1.0
        else math.sin(math.Pi / 36.0 * (i + 0.5))
    }).toFloat
  }
  private val windows: Array[Array[Float]] =
    Array(imdctWindow(0), imdctWindow(1), null, imdctWindow(3))

  /** One granule-channel: 576 lines (subband-major) -> 32 subbands x 18
    * time samples, written time-major into `out` (`out(32t + sb)`).
    * `overlap` (576, subband-major) is the caller-owned overlap-add
    * state.
    *
    * The 36-point IMDCT z(i) = sum_k xr(k) cos(pi/72 (2i+19)(2k+1)) is
    * the DCT-IV Y(n) = sum_k xr(k) cos(pi/72 (2n+1)(2k+1)) unfolded by
    * cosine symmetry: z(i) = Y(i+9) for i < 9, -Y(26-i) for 9 <= i < 27,
    * -Y(i-27) for i >= 27. So Y(9..17) feeds this granule's output and
    * Y(0..8) the next granule's overlap, each value twice. A subband
    * whose 18 lines are all zero transforms to zero: it emits its
    * overlap and clears it, with no transform and no window (so a zero
    * short-block subband needs no short-block window). */
  def imdctGranule(xr: Array[Float], blockType: Int,
      overlap: Array[Float], out: Array[Float]): Unit = {
    val w = windows(blockType)
    var sb = 0
    while (sb < 32) {
      val x0 = sb * 18
      // frequency inversion: odd subbands negate odd time samples
      val inv = (sb & 1) == 1
      var zero = true
      var k = 0
      while (k < 18 && zero) { zero = xr(x0 + k) == 0.0f; k += 1 }
      if (zero) {
        var i = 0
        while (i < 18) {
          val v = overlap(x0 + i)
          out(32 * i + sb) = if (inv && (i & 1) == 1) -v else v
          overlap(x0 + i) = 0.0f
          i += 1
        }
      } else {
        if (w == null) unsupported("short-block IMDCT")
        var n = 9
        while (n < 18) { // output half: z(n-9) and z(26-n)
          val y = dct4Row(xr, x0, n)
          val a = n - 9
          val b = 26 - n
          var va = y * w(a) + overlap(x0 + a)
          var vb = -(y * w(b)) + overlap(x0 + b)
          if (inv) { if ((a & 1) == 1) va = -va else vb = -vb } // a + b odd
          out(32 * a + sb) = va
          out(32 * b + sb) = vb
          n += 1
        }
        n = 0
        while (n < 9) { // overlap half: z(26-n) -> ov(8-n), z(27+n) -> ov(9+n)
          val y = dct4Row(xr, x0, n)
          overlap(x0 + 8 - n) = -(y * w(26 - n))
          overlap(x0 + 9 + n) = -(y * w(27 + n))
          n += 1
        }
      }
      sb += 1
    }
  }

  private def dct4Row(xr: Array[Float], x0: Int, n: Int): Float = {
    val row = 18 * n
    var acc = 0.0f
    var k = 0
    while (k < 18) { acc += xr(x0 + k) * dct4(row + k); k += 1 }
    acc
  }

  // ---- polyphase synthesis (derived cosine-modulated bank) ----
  // M(k,i) = cos(pi/32 (k+0.5) (i-16)), i in 0..63; extension to the
  // 512-tap window is M(k, i+64r) = (-1)^r M(k,i). With n = i - 16,
  // V(i) = sum_k s(k) M(k,i) is c(n), the 32-point DCT-II of s:
  // c(-n) = c(n), c(32) = 0 and c(32+m) = -c(32-m) give all 64 entries
  // from c(0..31). Pairing s(k) with s(31-k) splits c into a 16-point
  // even half (sums) and odd half (differences).
  private val dctEven: Array[Float] = Array.tabulate(16 * 16) { pk =>
    math.cos(math.Pi / 32.0 * (pk / 16) * (2 * (pk % 16) + 1)).toFloat
  }
  private val dctOdd: Array[Float] = Array.tabulate(16 * 16) { pk =>
    math.cos(math.Pi / 64.0 * (2 * (pk / 16) + 1) * (2 * (pk % 16) + 1)).toFloat
  }
  /** Analytic stand-in for ISO Table B.3: Hann-windowed sinc at the
    * pi/64 design cutoff, DC-calibrated so a full-scale constant
    * subband-0 input reconstructs to ~full-scale PCM. Deterministic;
    * replace via the SPI seam for bit-ISO output. */
  val synthProto: Array[Float] = {
    val g = Array.tabulate(512) { n =>
      val x = (n - 255.5) / 64.0
      val sinc = if (math.abs(x) < 1e-12) 1.0 else math.sin(math.Pi * x) / (math.Pi * x)
      val hann = 0.5 - 0.5 * math.cos(2.0 * math.Pi * (n + 0.5) / 512.0)
      sinc * hann
    }
    // calibration: feed S_t(0) = 1 for all t, take the peak of one
    // 32-sample reconstruction period
    var peak = 0.0
    var j = 0
    while (j < 32) {
      var acc = 0.0
      var m = 0
      while (m < 16) {
        val i = 32 * m + j
        val sign = if (((i >> 6) & 1) == 1) -1.0 else 1.0
        // M(0, i & 63), rounded to float: this constant fixes the
        // prototype's gain, and so the frozen fixture peak
        acc += g(i) * sign * math.cos(math.Pi / 32.0 * 0.5 * ((i & 63) - 16)).toFloat
        m += 1
      }
      if (math.abs(acc) > peak) peak = math.abs(acc)
      j += 1
    }
    val c = 1.0 / (32.0 * peak)
    g.map(v => (v * c).toFloat)
  }

  /** `synthProto` with the block sign (-1)^(i>>6) and the output gain 32
    * folded in. Both are exact in float (a sign and a power of two), so
    * windowing with it rounds exactly as the unfolded form. */
  private val synthWindow: Array[Float] = Array.tabulate(512) { i =>
    (if (((i >> 6) & 1) == 1) -32.0f else 32.0f) * synthProto(i)
  }

  /** Per-channel synthesis state: the last 16 slots' 64-entry V vectors
    * in one flat ring (slot m slots ago at `((head + m) & 15) * 64`),
    * plus scratch for the butterflies and the ring offsets. */
  final class SynthState {
    private[Mp3Layer3] val v: Array[Float] = new Array[Float](1024)
    private[Mp3Layer3] var head: Int = 0
    private[Mp3Layer3] val sd: Array[Float] = new Array[Float](32)
    private[Mp3Layer3] val vOff: Array[Int] = new Array[Int](16)
  }

  /** One time slot: 32 subband samples `s(sOff until sOff + 32)` -> 32
    * PCM samples at `out(outOff until outOff + 32)`. */
  def synthSlot(s: Array[Float], sOff: Int, st: SynthState,
      out: Array[Float], outOff: Int): Unit = {
    val sd = st.sd // sums (0..15), differences (16..31)
    var top = 0 // pairs past `top` are zero on both sides: a band-limited slot
    var k = 0
    while (k < 16) {
      val a = s(sOff + k)
      val b = s(sOff + 31 - k)
      sd(k) = a + b
      sd(16 + k) = a - b
      if (a != 0.0f || b != 0.0f) top = k + 1
      k += 1
    }
    st.head = (st.head + 15) & 15 // new slot goes to the front
    val v = st.v
    val base = st.head * 64
    var p = 0
    while (p < 16) {
      val row = 16 * p
      var even = 0.0f
      var odd = 0.0f
      k = 0
      while (k < top) {
        even += sd(k) * dctEven(row + k)
        odd += sd(16 + k) * dctOdd(row + k)
        k += 1
      }
      // c(n) -> V(16 + n); and V(16 - n) for n <= 16, -c(n) -> V(80 - n) above
      val n = 2 * p
      v(base + 16 + n) = even
      if (n <= 16) v(base + 16 - n) = even else v(base + 80 - n) = -even
      v(base + 17 + n) = odd
      if (n < 16) v(base + 15 - n) = odd else v(base + 79 - n) = -odd
      p += 1
    }
    v(base + 48) = 0.0f // c(32)
    // x(j) = sum_m W(32m + j) V_m(32 (m & 1) + j), newest slot m = 0;
    // four outputs per pass keep their sums in registers
    val vOff = st.vOff
    var m = 0
    while (m < 16) { vOff(m) = ((st.head + m) & 15) * 64 + 32 * (m & 1); m += 1 }
    val w = synthWindow
    var j = 0
    while (j < 32) {
      var x0 = 0.0f; var x1 = 0.0f; var x2 = 0.0f; var x3 = 0.0f
      m = 0
      while (m < 16) {
        val wi = 32 * m + j
        val vi = vOff(m) + j
        x0 += w(wi) * v(vi)
        x1 += w(wi + 1) * v(vi + 1)
        x2 += w(wi + 2) * v(vi + 2)
        x3 += w(wi + 3) * v(vi + 3)
        m += 1
      }
      out(outOff + j) = x0
      out(outOff + j + 1) = x1
      out(outOff + j + 2) = x2
      out(outOff + j + 3) = x3
      j += 4
    }
  }
}
