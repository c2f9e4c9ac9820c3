package graft.pipeline

/** MPEG-1 Audio Layer I + Layer II sample decoder — pure JVM, no codec
  * library.
  *
  * Scope and honesty contract (SURVEY §2 multimodal; the round-6/7 stub
  * shrink): the BITSTREAM layer — frame headers, CRC skip, Layer I's
  * uniform 4-bit allocation and Layer II's Table B.2a/B.2b classes,
  * scfsi, Table B.1 scalefactors, sample grouping and requantization —
  * follows the public ISO/IEC 11172-3 structure exactly.
  * Requantization needs no constant tables: the spec's published (C, D)
  * pairs satisfy C = P/levels and D = 1 - (levels-1)/P for P = the
  * enclosing power of two, which collapses s'' = C·(s''' + D) to the
  * uniform mid-rise reconstruction s'' = (2·code - levels + 1)/levels —
  * verified against the published constants for every quantization class.
  * The 32-band polyphase filterbank uses the spec's cosine modulation with
  * a numerically designed 512-tap root-raised-cosine prototype: the digits
  * of the spec's Table B.3 window are not reproducible in this offline
  * container, so the prototype approximates it (same length and cutoff,
  * exactly power-complementary at the band fold by construction).
  * Consequence: decoding matches a reference decoder to within the
  * prototype difference (inaudible-class, band-edge aliasing), and the
  * matched analysis/synthesis pair round-trips at 61 dB (impulse) —
  * MpegAudioSpec asserts >30 dB end-to-end through real quantization.
  * Unsupported (documented, returns None): the low-bitrate tables B.2c/d
  * (≤48 kbps per channel) and free-format streams.
  *
  * Scale shape: decode runs inside [[Multimodal.extractFeatures]]'s
  * mapPartitions batch loop — per-row streaming state (two 1088-double
  * FIFOs), features accumulated running, no full-PCM buffer.
  */
object MpegAudio {

  // ---------------------------------------------------------------- tables
  /** Layer II bitrate table, kbps (index 1-14; 0 = free format). */
  private val bitrates = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val sampleRates = Array(44100, 48000, 32000)

  /** Allocation-index → quantization levels, the four row classes shared by
    * Tables B.2a/B.2b (0 = no samples transmitted). */
  private val allocHi = Array(0, 3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191, 16383, 32767, 65535)
  private val allocMid = Array(0, 3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191, 65535)
  private val allocLow = Array(0, 3, 5, 7, 9, 15, 31, 65535)
  private val allocTop = Array(0, 3, 5, 65535)

  /** nbal + level mapping for subband `sb` (same classes in B.2a and B.2b;
    * they differ only in sblimit: 27 vs 30). */
  private def sbClass(sb: Int): (Int, Array[Int]) =
    if (sb < 3) (4, allocHi)
    else if (sb < 11) (4, allocMid)
    else if (sb < 23) (3, allocLow)
    else (2, allocTop)

  /** Table B.1: scalefactor(idx) = 2 · 2^(-idx/3), idx 0..62. */
  def scaleFactor(idx: Int): Double = 2.0 * math.pow(2.0, -idx / 3.0)

  /** Grouped classes carry 3 samples in one code word. */
  private def groupedBits(levels: Int): Int = levels match {
    case 3 => 5; case 5 => 7; case 9 => 10; case _ => 0
  }
  private def sampleBits(levels: Int): Int = {
    var b = 1; while ((1 << b) - 1 < levels) b += 1; b
  }

  /** Uniform mid-rise reconstruction — algebraically identical to the
    * spec's s'' = C·(s''' + D) for every published (C, D) pair. */
  @inline private def requant(code: Int, levels: Int): Double =
    (2 * code - (levels - 1)).toDouble / levels

  // ------------------------------------------------------- prototype filter
  /** Build a root-raised-cosine prototype with transition rolloff `alpha`
    * (production uses [[prototype]]). Frequency-domain design on the exact
    * 512-point grid: |H(w)| = cos(pi/2 * t) ramps 1 -> 0 across the band overlap centered
    * at pi/64, so |H(w)|^2 + |H(pi/32 - w)|^2 = 1 EXACTLY at the fold —
    * the power-complementarity a time-domain Kaiser-sinc design misses
    * (measured: 13 dB round-trip vs 61 dB with this design). Linear phase,
    * centered at 256 like the ISO window (with the spec's (n-16)
    * modulation phase, alias cancellation needs center-to-phase-reference
    * offset = 240 = 16 mod 32; a 255.5 center misses by half a sample and
    * the filterbank stops reconstructing). DC gain 1 (sum = 1). */
  private def makePrototype(alpha: Double): Array[Double] = {
    val n = 512
    val hF = new Array[Double](n / 2 + 1)
    val wEdge = math.Pi / 64
    val lo = wEdge * (1 - alpha); val hi = wEdge * (1 + alpha)
    var j = 0
    while (j <= n / 2) {
      val w = 2 * math.Pi * j / n
      hF(j) =
        if (w <= lo) 1.0
        else if (w >= hi) 0.0
        else math.cos(math.Pi / 2 * (w - lo) / (hi - lo))
      j += 1
    }
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      var acc = hF(0)
      var jj = 1
      while (jj < n / 2) { acc += 2 * hF(jj) * math.cos(2 * math.Pi * jj * (i - 256) / n); jj += 1 }
      acc += hF(n / 2) * math.cos(math.Pi * (i - 256))
      out(i) = acc / n
      i += 1
    }
    val s = out.sum
    out.map(_ / s)
  }

  lazy val prototype: Array[Double] = makePrototype(0.6)

  /** cos((2k+1)·(n − 16)·π/64) — the spec's analysis modulation phase. */
  private lazy val analysisCos: Array[Array[Double]] = Array.tabulate(32, 512) {
    (k, n) => math.cos((2 * k + 1) * (n - 16) * math.Pi / 64)
  }
  /** Synthesis phase: the matched-reconstruction partner (n + 16). */
  private lazy val synthesisCos: Array[Array[Double]] = Array.tabulate(32, 512) {
    (k, n) => math.cos((2 * k + 1) * (n + 16) * math.Pi / 64)
  }

  /** Analysis filterbank: push 32 PCM samples, get 32 subband samples.
    * Direct 512-tap form (no 64-fold + sign-flipped window needed). */
  final class Analysis {
    private val fifo = new Array[Double](512) // fifo(0) = newest
    def step(in: Array[Double], off: Int, out: Array[Double]): Unit = {
      System.arraycopy(fifo, 0, fifo, 32, 480)
      var i = 0
      while (i < 32) { fifo(i) = in(off + 31 - i); i += 1 }
      val h = prototype
      var k = 0
      while (k < 32) {
        val ck = analysisCos(k)
        var acc = 0.0; var n = 0
        while (n < 512) { acc += h(n) * fifo(n) * ck(n); n += 1 }
        out(k) = acc; k += 1
      }
    }
  }

  /** Synthesis filterbank: push 32 subband samples, get 32 PCM samples.
    * Transpose of [[Analysis]]: y[r] = 128·Σ_p Σ_k S_{m-p}[k]·h[32p+r]·
    * cos((2k+1)(32p+r+16)π/64), over the last 16 subband vectors — the
    * time-reverse of the analysis filter about the 256-centered window
    * (h(512−v)=h(v) makes h(v)·cos((2k+1)(v+16)π/64) = a_k(512−v)).
    * End-to-end gain is exactly 1 at delay 481 (impulse-verified 61 dB
    * reconstruction SNR, shift-invariant). */
  final class Synthesis {
    private val hist = Array.ofDim[Double](16, 32) // hist(0) = newest block
    def step(s: Array[Double], out: Array[Double], off: Int): Unit = {
      var p = 15
      while (p > 0) { System.arraycopy(hist(p - 1), 0, hist(p), 0, 32); p -= 1 }
      System.arraycopy(s, 0, hist(0), 0, 32)
      val h = prototype
      var r = 0
      while (r < 32) {
        var acc = 0.0
        var pp = 0
        while (pp < 16) {
          val n = 32 * pp + r
          val hp = hist(pp)
          val hn = h(n)
          var k = 0
          while (k < 32) { acc += hp(k) * hn * synthesisCos(k)(n); k += 1 }
          pp += 1
        }
        out(off + r) = 128.0 * acc
        r += 1
      }
    }
  }

  // ------------------------------------------------------------- bitreader
  /** Reads are bounded by `limit` (exclusive), i.e. the CURRENT FRAME's end
    * — Layer I/II frames are self-contained (no Layer-III bit reservoir),
    * so a frame whose bit demand crosses its own frameBytes is corrupt and
    * must throw (-> the decoder's partial-keep path) rather than silently
    * consume the next frame's bytes and accumulate garbled stats. */
  private final class BitReader(b: Array[Byte], var byteOff: Int, limit: Int) {
    var bitOff = 0
    def bits(n: Int): Int = {
      var v = 0; var left = n
      while (left > 0) {
        if (byteOff >= limit)
          throw new ArrayIndexOutOfBoundsException(s"bit demand crossed frame end at $byteOff/$limit")
        val avail = 8 - bitOff
        val take = math.min(avail, left)
        val cur = (b(byteOff) & 0xff) >> (avail - take) & ((1 << take) - 1)
        v = (v << take) | cur
        bitOff += take
        if (bitOff == 8) { bitOff = 0; byteOff += 1 }
        left -= take
      }
      v
    }
  }

  // ------------------------------------------------------------ frame info
  private final case class Header(channels: Int, bound: Int, rate: Int,
                                  kbps: Int, frameBytes: Int, sblimit: Int,
                                  layer: Int) // 1 or 2

  /** Layer I bitrate table, kbps (index 1-14; 0 = free format). */
  private val bitratesL1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)

  /** Parse + validate one Layer I/II header at `i`; None when unsupported. */
  private def header(b: Array[Byte], i: Int): Option[Header] = {
    if (i + 4 > b.length) return None
    val b1 = b(i + 1) & 0xff; val b2 = b(i + 2) & 0xff; val b3 = b(i + 3) & 0xff
    if ((b(i) & 0xff) != 0xff || (b1 & 0xe0) != 0xe0) return None
    if ((b1 >> 3 & 3) != 3) return None          // MPEG-1 only
    val layerBits = b1 >> 1 & 3
    val layer = layerBits match {
      case 3 => 1                                // Layer I
      case 2 => 2                                // Layer II
      case _ => return None                      // Layer III: Huffman-coded
    }
    val brIdx = b2 >> 4 & 15; val srIdx = b2 >> 2 & 3
    if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
    val kbps = (if (layer == 1) bitratesL1 else bitrates)(brIdx)
    val rate = sampleRates(srIdx)
    val mode = b3 >> 6 & 3; val modeExt = b3 >> 4 & 3
    val channels = if (mode == 3) 1 else 2
    // intensity bound: sb >= bound shares one allocation + sample set
    // (per-channel scalefactors still apply); non-joint modes bound=sblimit
    val perCh = kbps / channels
    if (layer == 2 && perCh <= 48) return None   // B.2c/d not implemented
    val sblimit =
      if (layer == 1) 32
      else if (rate == 48000) 27 else if (perCh >= 96) 30 else 27
    val frameBytes =
      if (layer == 1) (12 * kbps * 1000 / rate + (b2 >> 1 & 1)) * 4
      else 144 * kbps * 1000 / rate + (b2 >> 1 & 1)
    val bound = if (mode == 1) math.min((modeExt + 1) * 4, sblimit) else sblimit
    Some(Header(channels, bound, rate, kbps, frameBytes, sblimit, layer))
  }

  // -------------------------------------------------------------- decoding
  /** Decode every MPEG-1 Layer I or Layer II frame, returning the same
    * 8-dim feature vector as [[Multimodal.decodeAudio]]: [duration_sec,
    * channels, rate_hz, rms, zero_cross_rate, peak, mean_abs, mean] over
    * the reconstructed PCM (channels interleaved, matching the WAV path's
    * accumulation). Layer III (Huffman-coded) is refused, not garbled. */
  def decodeLayer2(bytes: Array[Byte]): Option[Array[Float]] = decodeMpeg1Audio(bytes)

  /** See [[decodeLayer2]] — both layers share the frame loop; the name
    * decodeLayer2 predates Layer I support and is kept as an alias. */
  def decodeMpeg1Audio(bytes: Array[Byte]): Option[Array[Float]] = {
    if (bytes == null || bytes.length < 4) return None
    var i = 0
    // ID3v2 skip (syncsafe size)
    if (bytes.length > 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3')
      i = 10 + ((bytes(6) & 0x7f) << 21 | (bytes(7) & 0x7f) << 14 |
        (bytes(8) & 0x7f) << 7 | (bytes(9) & 0x7f))
    // require a valid Layer II header at the first sync
    val first = header(bytes, i).getOrElse(return None)
    val synth = Array.fill(first.channels)(new Synthesis)
    val pcmCh = Array.ofDim[Double](first.channels, 32)
    var sumSq = 0.0; var sumAbs = 0.0; var sum = 0.0
    var peak = 0.0; var zc = 0L; var prevNeg = false
    var nSamples = 0L; var frames = 0L
    try {
      while (i + 4 <= bytes.length) {
        header(bytes, i) match {
          case None => i += 1 // resync scan
          case Some(h) =>
            if (h.channels != first.channels || h.rate != first.rate ||
                h.layer != first.layer) { i += 1 }
            else {
              try {
                decodeFrame(bytes, i, h, { (s: Array[Double], ch: Int) =>
                  // one granule-sample step for channel ch → 32 PCM samples;
                  // stats accumulate SAMPLE-INTERLEAVED (L0 R0 L1 R1 …), the
                  // same order the WAV path sees, once the last channel of
                  // the time step arrives
                  synth(ch).step(s, pcmCh(ch), 0)
                  if (ch == first.channels - 1) {
                    var j = 0
                    while (j < 32) {
                      var c = 0
                      while (c < first.channels) {
                        val v = math.max(-1.0, math.min(1.0, pcmCh(c)(j)))
                        sumSq += v * v; sumAbs += math.abs(v); sum += v
                        if (math.abs(v) > peak) peak = math.abs(v)
                        val neg = v < 0
                        if (nSamples > 0 && neg != prevNeg) zc += 1
                        prevNeg = neg
                        nSamples += 1
                        c += 1
                      }
                      j += 1
                    }
                  }
                })
                frames += 1
                i += h.frameBytes
              } catch {
                // a corrupt or truncated frame (bit demand crossing its own
                // frame end, bad allocation codes) must not discard the
                // whole decode — end-truncated and mid-corrupted files are
                // crawl-common. RESYNC: scan forward for the next valid
                // header and keep decoding; the stats keep every frame
                // (and any granules of the corrupt frame) decoded so far.
                case _: Exception => i += 1
              }
            }
        }
      }
    } catch {
      // unexpected failure outside a frame body: keep whatever decoded
      case _: Exception => ()
    }
    if (frames == 0 || nSamples == 0) return None
    val n = nSamples.toDouble
    val perCh = nSamples / first.channels
    Some(Array(
      (perCh / first.rate.toDouble).toFloat, first.channels.toFloat,
      first.rate.toFloat, math.sqrt(sumSq / n).toFloat,
      (zc / n).toFloat, peak.toFloat, (sumAbs / n).toFloat, (sum / n).toFloat))
  }

  /** Parse one frame body and emit 36 subband-sample vectors per channel
    * (12 granules × 3) through `emit(samples32, ch)` in time order. */
  private def decodeFrame(b: Array[Byte], start: Int, h: Header,
                          emit: (Array[Double], Int) => Unit): Unit = {
    val r = new BitReader(b, start + 4, math.min(start + h.frameBytes, b.length))
    if ((b(start + 1) & 1) == 0) r.bits(16) // CRC present → skip
    if (h.layer == 1) { decodeFrameL1(r, h, emit); return }
    val ch = h.channels
    val alloc = Array.ofDim[Int](ch, h.sblimit)       // quantizer levels
    var sb = 0
    while (sb < h.sblimit) {
      val (nbal, levels) = sbClass(sb)
      if (sb < h.bound) {
        var c = 0
        while (c < ch) { alloc(c)(sb) = levels(r.bits(nbal)); c += 1 }
      } else {
        val l = levels(r.bits(nbal))
        var c = 0
        while (c < ch) { alloc(c)(sb) = l; c += 1 }
      }
      sb += 1
    }
    val scfsi = Array.ofDim[Int](ch, h.sblimit)
    sb = 0
    while (sb < h.sblimit) {
      var c = 0
      while (c < ch) {
        if (alloc(c)(sb) != 0) scfsi(c)(sb) = r.bits(2)
        c += 1
      }
      sb += 1
    }
    // scalefactors per third-of-frame (parts 0/1/2, 4 granules each)
    val sf = Array.ofDim[Double](ch, h.sblimit, 3)
    sb = 0
    while (sb < h.sblimit) {
      var c = 0
      while (c < ch) {
        if (alloc(c)(sb) != 0) {
          scfsi(c)(sb) match {
            case 0 =>
              val a = scaleFactor(r.bits(6)); val bb = scaleFactor(r.bits(6))
              val cc = scaleFactor(r.bits(6))
              sf(c)(sb)(0) = a; sf(c)(sb)(1) = bb; sf(c)(sb)(2) = cc
            case 1 =>
              val a = scaleFactor(r.bits(6)); val cc = scaleFactor(r.bits(6))
              sf(c)(sb)(0) = a; sf(c)(sb)(1) = a; sf(c)(sb)(2) = cc
            case 2 =>
              val a = scaleFactor(r.bits(6))
              sf(c)(sb)(0) = a; sf(c)(sb)(1) = a; sf(c)(sb)(2) = a
            case _ =>
              val a = scaleFactor(r.bits(6)); val cc = scaleFactor(r.bits(6))
              sf(c)(sb)(0) = a; sf(c)(sb)(1) = cc; sf(c)(sb)(2) = cc
          }
        }
        c += 1
      }
      sb += 1
    }
    // samples: granule-major; each granule = 3 samples per (sb, ch)
    val gbuf = Array.ofDim[Double](ch, 3, 32) // 3 time-steps of 32 subbands
    var gr = 0
    while (gr < 12) {
      var c0 = 0
      while (c0 < ch) { var t = 0; while (t < 3) { java.util.Arrays.fill(gbuf(c0)(t), 0.0); t += 1 }; c0 += 1 }
      sb = 0
      while (sb < h.sblimit) {
        if (sb < h.bound) {
          var c = 0
          while (c < ch) {
            readGranule(r, alloc(c)(sb), sf(c)(sb)(gr / 4), gbuf(c), sb)
            c += 1
          }
        } else {
          // intensity: ONE sample set, each channel's own scalefactor
          val levels = alloc(0)(sb)
          if (levels != 0) {
            val raw = rawGranule(r, levels)
            var c = 0
            while (c < ch) {
              var t = 0
              while (t < 3) { gbuf(c)(t)(sb) = sf(c)(sb)(gr / 4) * raw(t); t += 1 }
              c += 1
            }
          }
        }
        sb += 1
      }
      var t = 0
      while (t < 3) {
        var c = 0
        while (c < ch) { emit(gbuf(c)(t), c); c += 1 }
        t += 1
      }
      gr += 1
    }
  }

  /** Layer I frame body: 4-bit allocation over all 32 subbands (code a ->
    * nb = a+1 bits, levels = 2^nb - 1; code 15 forbidden), ONE 6-bit
    * scalefactor per active (sb, channel), then 12 granules of one sample
    * per active subband — same requantization closed form as Layer II. */
  private def decodeFrameL1(r: BitReader, h: Header,
                            emit: (Array[Double], Int) => Unit): Unit = {
    val ch = h.channels
    val alloc = Array.ofDim[Int](ch, 32) // quantizer levels
    var sb = 0
    while (sb < 32) {
      def levelsOf(a: Int): Int = {
        // code 15 is forbidden by the spec: refuse (-> None via the frame
        // loop's catch), never decode 16 bits of garbage per sample
        if (a == 15) throw new IllegalArgumentException("forbidden L1 allocation 15")
        if (a == 0) 0 else (1 << (a + 1)) - 1
      }
      if (sb < h.bound) {
        var c = 0
        while (c < ch) { alloc(c)(sb) = levelsOf(r.bits(4)); c += 1 }
      } else {
        val l = levelsOf(r.bits(4))
        var c = 0
        while (c < ch) { alloc(c)(sb) = l; c += 1 }
      }
      sb += 1
    }
    val sf = Array.ofDim[Double](ch, 32)
    sb = 0
    while (sb < 32) {
      var c = 0
      while (c < ch) {
        if (alloc(c)(sb) != 0) sf(c)(sb) = scaleFactor(r.bits(6))
        c += 1
      }
      sb += 1
    }
    val buf = Array.ofDim[Double](ch, 32)
    var g = 0
    while (g < 12) {
      var c0 = 0
      while (c0 < ch) { java.util.Arrays.fill(buf(c0), 0.0); c0 += 1 }
      sb = 0
      while (sb < 32) {
        if (sb < h.bound) {
          var c = 0
          while (c < ch) {
            val l = alloc(c)(sb)
            if (l != 0) buf(c)(sb) = sf(c)(sb) * requant(r.bits(sampleBits(l)), l)
            c += 1
          }
        } else {
          val l = alloc(0)(sb)
          if (l != 0) {
            val raw = requant(r.bits(sampleBits(l)), l)
            var c = 0
            while (c < ch) { buf(c)(sb) = sf(c)(sb) * raw; c += 1 }
          }
        }
        sb += 1
      }
      var c = 0
      while (c < ch) { emit(buf(c), c); c += 1 }
      g += 1
    }
  }

  /** Read one granule (3 samples) of a level-`levels` quantizer, scaled. */
  private def readGranule(r: BitReader, levels: Int, sf: Double,
                          out: Array[Array[Double]], sb: Int): Unit = {
    if (levels == 0) return
    val raw = rawGranule(r, levels)
    var t = 0
    while (t < 3) { out(t)(sb) = sf * raw(t); t += 1 }
  }

  private def rawGranule(r: BitReader, levels: Int): Array[Double] = {
    val out = new Array[Double](3)
    val gb = groupedBits(levels)
    if (gb > 0) {
      var c = r.bits(gb)
      var t = 0
      while (t < 3) { out(t) = requant(c % levels, levels); c /= levels; t += 1 }
    } else {
      val nb = sampleBits(levels)
      var t = 0
      while (t < 3) { out(t) = requant(r.bits(nb), levels); t += 1 }
    }
    out
  }
}
