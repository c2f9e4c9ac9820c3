package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (driver mandate): image/audio/video payloads
  * as opaque `binary` columns with typed metadata, plus the batch-shaped
  * decode/feature-extract kernels.
  *
  * IMAGE payloads (PNG/JPEG/GIF/BMP) decode for REAL through the JDK's
  * bundled `javax.imageio` readers — no external codec libs needed — into
  * pixel-statistics features; WebP decodes for real through the
  * from-scratch codecs — [[Vp8l]] for lossless, [[Vp8]] (RFC 6386
  * keyframe, conformance-tested byte-exact against libwebp output) for
  * lossy VP8 incl. VP8X+ALPH alpha; PCM audio
  * (WAV/AIFF/AU) decodes for real via
  * `javax.sound`; FLAC PCM ([[decodeFlac]]) and MPEG-1 Layer II
  * ([[MpegAudio.decodeLayer2]]) decode for real from scratch; ISO-BMFF
  * sample tables demux for real ([[mp4Samples]] / [[Mp4Demux]]). For the
  * remaining codec-bound formats the CONTAINER metadata (MP4/MOV atom
  * tree, MP3 frame headers, FLAC STREAMINFO — duration, resolution,
  * track/channel counts, rates: what curation filters on) is parsed for
  * real from bytes; only MP3 Layer III Huffman and video PAYLOAD decode
  * fall back to a clearly-marked deterministic STUB (codec libs are not
  * in this container). Everything Spark-side (schema, batching, partition
  * sizing, null handling, the mapPartitions fan-out shape) is identical
  * for every kernel.
  */
object Multimodal {

  /** Media metadata carried next to every binary payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("byte_len", LongType),
    StructField("sha256", StringType),
    StructField("mime", StringType)))

  /** Wrap a binary column with its metadata struct — cheap column algebra,
    * no data movement. */
  def withMediaMeta(df: DataFrame, binCol: String, mime: String): DataFrame =
    df.withColumn(s"${binCol}_meta", struct(
      length(col(binCol)).cast("long").as("byte_len"),
      sha2(col(binCol), 256).as("sha256"),
      lit(mime).as("mime")))

  /** Real image decoder ([[decodeArgbPixels]]: ImageIO for
    * PNG/JPEG/GIF/BMP, the from-scratch [[Vp8l]]/[[Vp8]] for WebP).
    * Returns the 8-dim feature vector [width, height, bands, meanR,
    * meanG, meanB, lumaMean, lumaStd] (channel means in [0,1]; bands is
    * 4 for the ARGB webp path); None when the payload is not a decodable
    * image (magic-byte gate first, so non-image bytes never pay a decode
    * attempt). Runs inside the per-partition batch loop of
    * [[extractFeatures]]. */
  def decodeImage(bytes: Array[Byte]): Option[Array[Float]] = {
    if (bytes == null || bytes.length < 8) return None
    val container = sniffImageContainer(bytes)
    if (container == "unknown") return None
    try {
      // ONE decode (this runs in extractFeatures' per-partition hot loop)
      val (w, h, px, bands) =
        if (container == "webp") Vp8l.decode(bytes)
          .orElse(Vp8.decodeArgb(bytes)) match {
          case Some((vw, vh, vp)) if vw > 0 && vh > 0 => (vw, vh, vp, 4.0f)
          case _ => return None
        }
        else {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          if (img == null) return None
          val iw = img.getWidth
          val ih = img.getHeight
          if (iw <= 0 || ih <= 0) return None
          (iw, ih, img.getRGB(0, 0, iw, ih, null, 0, iw),
            img.getRaster.getNumBands.toFloat)
        }
      val n = px.length.toDouble
      var sr = 0.0; var sg = 0.0; var sb = 0.0; var sl = 0.0; var sl2 = 0.0
      var i = 0
      while (i < px.length) {
        val p = px(i)
        val r = ((p >> 16) & 0xff) / 255.0
        val g = ((p >> 8) & 0xff) / 255.0
        val bl = (p & 0xff) / 255.0
        val luma = 0.299 * r + 0.587 * g + 0.114 * bl
        sr += r; sg += g; sb += bl; sl += luma; sl2 += luma * luma
        i += 1
      }
      val lm = sl / n
      val lvar = math.max(sl2 / n - lm * lm, 0.0)
      Some(Array(w.toFloat, h.toFloat, bands,
        (sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat,
        lm.toFloat, math.sqrt(lvar).toFloat))
    } catch { case _: Exception => None }
  }

  /** Image CONTAINER sniff by magic bytes — detection is separate from
    * decodability on purpose: a modern crawl corpus is majority
    * WebP/AVIF, which the JDK's ImageIO cannot decode, and the dedup
    * family must be able to STATE what fraction of a corpus it covered
    * (see [[imageDecodeReport]]) instead of silently skipping payloads.
    * Returns one of "png", "jpeg", "gif", "bmp", "webp", "avif", "heic",
    * "tiff", "unknown". WebP is RIFF....WEBP (plain RIFF without the WEBP
    * brand — e.g. WAV — stays "unknown" here); AVIF is an ISO-BMFF ftyp
    * box with the avif/avis brand, HEIC any of the HEIF image/sequence
    * brands (heic/heix/hevc/heim/heis/hevm/hevs) or the generic
    * mif1/msf1 structural brands (ISO/IEC 23008-12) — so real-corpus
    * HEIF payloads land in a named row, not "unknown". */
  def sniffImageContainer(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 12) return "unknown"
    def b(i: Int): Int = bytes(i) & 0xff
    def ascii(from: Int, s: String): Boolean =
      s.indices.forall(j => b(from + j) == s.charAt(j))
    if (b(0) == 0x89 && ascii(1, "PNG")) "png"
    else if (b(0) == 0xff && b(1) == 0xd8) "jpeg"
    else if (ascii(0, "GIF")) "gif"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else if (ascii(0, "RIFF") && ascii(8, "WEBP")) "webp"
    else if (ascii(4, "ftyp") && (ascii(8, "avif") || ascii(8, "avis"))) "avif"
    else if (ascii(4, "ftyp") && (ascii(8, "heic") || ascii(8, "heix") ||
             ascii(8, "hevc") || ascii(8, "heim") || ascii(8, "heis") ||
             ascii(8, "hevm") || ascii(8, "hevs") || ascii(8, "mif1") ||
             ascii(8, "msf1"))) "heic"
    else if ((b(0) == 'I' && b(1) == 'I' && b(2) == 0x2a && b(3) == 0) ||
             (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 0x2a)) "tiff"
    else "unknown"
  }

  /** Shared pixel decode for the whole image family: WebP routes through
    * the from-scratch codecs — [[Vp8l]] for LOSSLESS chunks, [[Vp8]]
    * (RFC 6386 keyframe decoder, r17) for lossy VP8/VP8X+ALPH — every
    * other sniffed container through ImageIO (a JDK with a plugged-in
    * avif/tiff reader would start passing with no code change);
    * "unknown" payloads never pay a decode attempt. Returns
    * (width, height, packed ARGB). */
  def decodeArgbPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    sniffImageContainer(bytes) match {
      case "unknown" => None
      case "webp" =>
        try Vp8l.decode(bytes).filter { case (w, h, _) => w > 0 && h > 0 }
          .orElse(Vp8.decodeArgb(bytes).filter { case (w, h, _) => w > 0 && h > 0 })
        catch { case _: Exception => None }
      case _ =>
        try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          if (img == null) None
          else {
            val w = img.getWidth
            val h = img.getHeight
            if (w <= 0 || h <= 0) None
            else Some((w, h, img.getRGB(0, 0, w, h, null, 0, w)))
          }
        } catch { case _: Exception => None }
    }

  /** Deterministic grayscale TIFF encoder via the JDK's bundled
    * (JDK 9+) ImageIO TIFF writer — default uncompressed baseline TIFF,
    * so decode recovers v(x, y) exactly; like [[encodePngGray]],
    * consumers compare decoded pixels, never payload bytes. */
  def encodeTiffGray(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = v(x, y)
        require(p >= 0 && p <= 255, s"pixel out of range: $p at ($x,$y)")
        img.setRGB(x, y, (p << 16) | (p << 8) | p)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "tiff", bos),
      "JDK TIFF writer unavailable")
    bos.toByteArray
  }

  /** HEADER-ONLY image dimensions — the 100 TB curation primitive: a
    * resolution gate (e.g. "drop < 64px") should read a few header bytes
    * per payload, never run a codec. Covers every sniffable container:
    * PNG IHDR, GIF logical screen, BMP info header, JPEG SOF0/1/2 marker
    * scan, WebP VP8 frame header / VP8L signature bits / VP8X canvas,
    * TIFF first-IFD tags 256/257 (both endians, SHORT and LONG), and
    * the ISO-BMFF `ispe` property (meta -> iprp -> ipco walk) shared by
    * AVIF and HEIC — so dims parse for real even where SAMPLE decode is
    * a counted stub (avif/heic). None for unknown containers or
    * truncated/garbled headers; never throws. */
  def imageDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes == null || bytes.length < 12) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def ok(w: Int, h: Int): Option[(Int, Int)] =
      if (w > 0 && h > 0) Some((w, h)) else None
    try {
      sniffImageContainer(bytes) match {
        case "png" =>
          if (bytes.length < 24) None else ok(be32(16), be32(20))
        case "gif" =>
          ok(le16(6), le16(8))
        case "bmp" =>
          // BITMAPINFOHEADER: i32 width at 18, i32 height at 22 (may be
          // negative = top-down)
          if (bytes.length < 26) None else ok(le32(18), math.abs(le32(22)))
        case "jpeg" =>
          // marker scan to the first frame header (SOF0/1/2 cover
          // baseline + extended + progressive; C4/C8/CC are not SOFs)
          var p = 2
          var res: Option[(Int, Int)] = None
          while (res.isEmpty && p + 9 < bytes.length && u8(p) == 0xff) {
            var q = p
            while (q < bytes.length && u8(q) == 0xff) q += 1 // fill bytes
            if (q >= bytes.length) return None
            val m = u8(q)
            if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
              if (q + 8 < bytes.length) res = ok(be16(q + 6), be16(q + 4))
              else return None
            } else if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) {
              p = q + 1 // standalone marker, no length
            } else if (m == 0xd9 || m == 0xda) {
              return None // end / scan start without a SOF
            } else {
              // segment with a BE16 length (includes the length bytes)
              if (q + 2 >= bytes.length) return None
              p = q + 1 + be16(q + 1)
            }
          }
          res
        case "webp" =>
          // RIFF chunk walk from 12: the first VP8 /VP8L/VP8X chunk
          // carries dims (VP8X: canvas size)
          var p = 12
          while (p + 8 <= bytes.length) {
            val four = new String(bytes, p, 4, "ISO-8859-1")
            val sz = le32(p + 4)
            if (sz < 0 || p + 8L + sz > bytes.length) return None
            val q = p + 8
            four match {
              case "VP8X" =>
                if (sz < 10) return None
                val w = (u8(q + 4) | (u8(q + 5) << 8) | (u8(q + 6) << 16)) + 1
                val h = (u8(q + 7) | (u8(q + 8) << 8) | (u8(q + 9) << 16)) + 1
                return ok(w, h)
              case "VP8 " =>
                // keyframe: 3-byte frame tag, start code 9d 01 2a, dims
                if (sz < 10 || u8(q + 3) != 0x9d || u8(q + 4) != 0x01 ||
                    u8(q + 5) != 0x2a) return None
                return ok(le16(q + 6) & 0x3fff, le16(q + 8) & 0x3fff)
              case "VP8L" =>
                if (sz < 5 || u8(q) != 0x2f) return None
                val b = le32(q + 1)
                return ok((b & 0x3fff) + 1, ((b >>> 14) & 0x3fff) + 1)
              case _ =>
                p = q + sz + (sz & 1) // chunks are 2-byte aligned
            }
          }
          None
        case "tiff" =>
          val le = u8(0) == 'I'
          def r16(i: Int) = if (le) le16(i) else be16(i)
          def r32(i: Int) = if (le) le32(i) else be32(i)
          val ifd = r32(4)
          if (ifd < 8 || ifd + 2 > bytes.length) return None
          val n = r16(ifd)
          var w = -1; var h = -1
          var e = 0
          while (e < n && ifd + 2 + 12 * (e + 1) <= bytes.length) {
            val off = ifd + 2 + 12 * e
            val tag = r16(off)
            val typ = r16(off + 2)
            // value inline in the 4-byte field: SHORT(3) in the first
            // two bytes (endian-ordered), LONG(4) as u32
            val v = if (typ == 3) r16(off + 8) else r32(off + 8)
            if (tag == 256) w = v
            if (tag == 257) h = v
            e += 1
          }
          ok(w, h)
        case "avif" | "heic" =>
          ispeDims(bytes)
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  /** ISO-BMFF `ispe` (image spatial extents, ISO/IEC 23008-12) walk:
    * top-level boxes -> `meta` (FullBox: +4 version/flags) -> `iprp` ->
    * `ipco` -> `ispe` (FullBox: u32 width, u32 height). Unknown sibling
    * boxes (hdlr, pitm, iloc, iinf, ...) are skipped generically, so
    * real-encoder files walk the same as synthetic ones. */
  private def ispeDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    // find a child box by fourcc inside [from, to); returns (payloadStart, payloadEnd)
    def child(from: Int, to: Int, fourcc: String): Option[(Int, Int)] = {
      var p = from
      while (p + 8 <= to) {
        val sz = be32(p)
        val name = new String(bytes, p + 4, 4, "ISO-8859-1")
        val end = if (sz == 0) to else p + sz
        if (sz != 1 && (sz == 0 || sz >= 8) && end <= to) {
          if (name == fourcc) return Some((p + 8, end))
          p = end
        } else return None // 64-bit or malformed sizes: bail cleanly
      }
      None
    }
    for {
      (m0, m1) <- child(0, bytes.length, "meta")
      (p0, p1) <- child(m0 + 4, m1, "iprp") // meta is a FullBox
      (c0, c1) <- child(p0, p1, "ipco")
      (i0, i1) <- child(c0, c1, "ispe")
      if i1 - i0 >= 12
    } yield (be32(i0 + 4), be32(i0 + 8))
  }

  /** Does this payload decode under the library's decoders ([[Vp8l]] /
    * [[Vp8]] for WebP, ImageIO otherwise)? The [[imageDecodeReport]]
    * predicate. */
  def imageDecodes(bytes: Array[Byte]): Boolean =
    decodeArgbPixels(bytes).isDefined

  /** Decode-COVERAGE report for an image corpus (VERDICT r15 #2): per
    * sniffed container, how many payloads the JDK decoder actually
    * decodes. This is the honesty contract of the image-dedup family —
    * [[graft.pipeline.Dedup.imageDedupStar]] maps undecodable payloads to
    * themselves (correct fallback semantics), so a user MUST read this
    * report to know what fraction of the corpus the near-dup pass
    * covered (a majority-WebP crawl corpus decodes ~0% under stock
    * ImageIO). One mapPartitions pass: payloads never shuffle — only
    * (container, decoded-bit) pairs reach the map-side-combined
    * aggregation, O(#containers) rows out. Returns
    * (container, n_total, n_decoded, n_failed, decode_rate) sorted by
    * container. */
  def imageDecodeReport(df: DataFrame, binCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(binCol)).as[Array[Byte]].mapPartitions { it =>
      it.map { bytes =>
        (sniffImageContainer(bytes), if (imageDecodes(bytes)) 1L else 0L)
      }
    }.toDF("container", "__dec")
      .groupBy("container")
      .agg(count(lit(1)).as("n_total"), sum(col("__dec")).as("n_decoded"))
      .withColumn("n_failed", col("n_total") - col("n_decoded"))
      .withColumn("decode_rate",
        round(col("n_decoded").cast("double") / col("n_total"), 6))
      .orderBy("container")
  }

  /** Header-only dims for a binary image column: appends (container,
    * img_w, img_h) via [[imageDims]] in one mapPartitions pass — a few
    * header bytes of work per payload, no codec, no shuffle. The
    * resolution-gate primitive: at crawl scale a `width >= 64` filter
    * must not pay decode for the 90% it drops. */
  def withImageDims(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val dims = imageDims(bytes)
          (id, sniffImageContainer(bytes), dims.map(_._1), dims.map(_._2))
        }
      }
      .toDF(idCol, "container", "img_w", "img_h")
  }

  /** Real audio decoder via the JDK's bundled javax.sound.sampled readers
    * (WAV/AIFF/AU, PCM up to 16-bit). Returns the 8-dim feature vector
    * [duration_sec, channels, sample_rate, rms, zero_crossing_rate, peak,
    * mean_abs, dc_offset] over samples normalized to [-1, 1]; None when no
    * reader accepts the payload (magic-byte gated first). */
  def decodeAudio(bytes: Array[Byte]): Option[Array[Float]] = {
    if (bytes == null || bytes.length < 12) return None
    def b(i: Int): Int = bytes(i) & 0xff
    val isWav = b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F'
    val isAiff = b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M'
    val isAu = b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd'
    if (!(isWav || isAiff || isAu)) return None
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val ais0 = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      val f0 = ais0.getFormat
      // normalize to 16-bit signed PCM so sample extraction is uniform
      val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        f0.getSampleRate, 16, f0.getChannels, f0.getChannels * 2,
        f0.getSampleRate, false)
      val ais = AudioSystem.getAudioInputStream(target, ais0)
      val data = ais.readAllBytes()
      val n = data.length / 2
      if (n == 0) return None
      var sumSq = 0.0; var sumAbs = 0.0; var sum = 0.0
      var peak = 0.0; var zc = 0L; var prevNeg = false
      var i = 0
      while (i < n) {
        val s = ((data(2 * i + 1) << 8) | (data(2 * i) & 0xff)).toShort / 32768.0
        sumSq += s * s; sumAbs += math.abs(s); sum += s
        if (math.abs(s) > peak) peak = math.abs(s)
        val neg = s < 0
        if (i > 0 && neg != prevNeg) zc += 1
        prevNeg = neg
        i += 1
      }
      val frames = n / f0.getChannels
      Some(Array(
        (frames / f0.getSampleRate).toFloat, f0.getChannels.toFloat,
        f0.getSampleRate, math.sqrt(sumSq / n).toFloat,
        (zc.toDouble / n).toFloat, peak.toFloat,
        (sumAbs / n).toFloat, (sum / n).toFloat))
    } catch { case _: Exception => None }
  }

  /** REAL container-metadata parser for media whose SAMPLES the JDK cannot
    * decode but whose container structure is pure bytes: ISO-BMFF
    * (MP4/MOV/M4A) atom walk, MP3 frame-header scan (ID3v2-aware), FLAC
    * STREAMINFO. Returns (kind, 8-dim features = [duration_sec, width,
    * height, tracks_or_channels, rate_hz, bitrate_kbps, 0, 0]); None when
    * no container matches. Pixel/sample decode for these formats still
    * needs codec libs (see [[stubDecode]]) — but duration/resolution/
    * track-count metadata, which is what corpus curation filters on, is
    * extracted for real here. */
  def parseContainerMeta(bytes: Array[Byte]): Option[(String, Array[Float])] = {
    if (bytes == null || bytes.length < 12) return None
    parseMp4(bytes).map(("mp4", _))
      .orElse(parseFlac(bytes).map(("flac", _)))
      .orElse(parseMp3(bytes).map(("mp3", _)))
  }

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)

  private def boxType(b: Array[Byte], i: Int): String =
    new String(b, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** ISO-BMFF atom walk: moov/mvhd gives timescale+duration, each
    * trak/tkhd contributes width/height (16.16 fixed point) and the track
    * count. Handles 64-bit extended box sizes and size-0 (to-EOF) boxes. */
  private def parseMp4(b: Array[Byte]): Option[Array[Float]] = {
    if (b.length < 16 || boxType(b, 0) != "ftyp") return None
    var duration = 0.0; var timescale = 1.0
    var width = 0.0; var height = 0.0; var tracks = 0
    def walk(from: Long, to: Long, depth: Int): Unit = {
      var off = from
      while (off + 8 <= to && depth < 8) {
        val size0 = be32(b, off.toInt)
        val typ = boxType(b, off.toInt)
        val (hdr, size) =
          if (size0 == 1 && off + 16 <= to) (16L, be64(b, off.toInt + 8))
          else if (size0 == 0) (8L, to - off)
          else (8L, size0)
        if (size < hdr || off + size > to) return
        val body = off + hdr
        typ match {
          case "moov" => walk(body, off + size, depth + 1)
          case "trak" => tracks += 1; walk(body, off + size, depth + 1)
          case "mvhd" if body + 4 <= to =>
            val ver = b(body.toInt) & 0xff
            if (ver == 1 && body + 28 + 4 <= to) {
              timescale = be32(b, body.toInt + 20).toDouble
              duration = be64(b, body.toInt + 24).toDouble
            } else if (body + 20 + 4 <= to) {
              timescale = be32(b, body.toInt + 12).toDouble
              duration = be32(b, body.toInt + 16).toDouble
            }
          case "tkhd" =>
            val ver = b(body.toInt) & 0xff
            val wOff = body + (if (ver == 1) 88 else 76)
            if (wOff + 8 <= to) {
              val w = be32(b, wOff.toInt) / 65536.0
              val h = be32(b, wOff.toInt + 4) / 65536.0
              if (w > width) width = w
              if (h > height) height = h
            }
          case _ => ()
        }
        off += size
      }
    }
    walk(0, b.length.toLong, 0)
    if (timescale <= 0) return None
    Some(Array((duration / timescale).toFloat, width.toFloat, height.toFloat,
      tracks.toFloat, timescale.toFloat, 0f, 0f, 0f))
  }

  /** FLAC STREAMINFO (first metadata block, type 0, 34 bytes): 20-bit
    * sample rate, 3-bit channels-1, 5-bit bps-1, 36-bit total samples. */
  private def parseFlac(b: Array[Byte]): Option[Array[Float]] = {
    if (b.length < 4 + 4 + 34) return None
    if (!(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')) return None
    if ((b(4) & 0x7f) != 0) return None      // first block must be STREAMINFO
    val si = 8                               // streaminfo body offset
    val sampleRate = ((b(si + 10) & 0xffL) << 12) |
      ((b(si + 11) & 0xffL) << 4) | ((b(si + 12) & 0xf0L) >> 4)
    val channels = ((b(si + 12) >> 1) & 0x7) + 1
    val totalSamples = ((b(si + 13) & 0x0fL) << 32) | be32(b, si + 14)
    if (sampleRate == 0) return None
    Some(Array((totalSamples.toDouble / sampleRate).toFloat, 0f, 0f,
      channels.toFloat, sampleRate.toFloat, 0f, 0f, 0f))
  }

  private val mp3Bitrates =    // kbps, MPEG-1 Layer III, index 1-14
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val mp3Rates = Array(44100, 48000, 32000)

  /** MP3 frame walk (MPEG-1 Layer III): skip any leading ID3v2 tag
    * (syncsafe length), then count frames by stepping exact frame lengths
    * (144·bitrate/rate + padding) — duration that is exact for CBR and a
    * close lower bound for VBR. Requires ≥2 valid consecutive frames so
    * random bytes cannot masquerade as sync words. */
  private def parseMp3(b: Array[Byte]): Option[Array[Float]] = {
    var off = 0
    if (b.length > 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3')
      off = 10 + (((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f))
    var frames = 0; var seconds = 0.0; var kbpsSum = 0.0
    var rate = 0
    while (off + 4 <= b.length) {
      val h0 = b(off) & 0xff; val h1 = b(off + 1) & 0xff
      // sync (11 bits) + MPEG-1 (bits 4-3 = 11) + Layer III (bits 2-1 = 01)
      if (h0 != 0xff || (h1 & 0xfe) != 0xfa) return finishMp3(frames, seconds, kbpsSum, rate)
      val brIdx = (b(off + 2) & 0xf0) >> 4
      val srIdx = (b(off + 2) & 0x0c) >> 2
      val padding = (b(off + 2) & 0x02) >> 1
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return finishMp3(frames, seconds, kbpsSum, rate)
      val kbps = mp3Bitrates(brIdx); rate = mp3Rates(srIdx)
      val frameLen = 144 * kbps * 1000 / rate + padding
      frames += 1; seconds += 1152.0 / rate; kbpsSum += kbps
      off += frameLen
    }
    finishMp3(frames, seconds, kbpsSum, rate)
  }

  private def finishMp3(frames: Int, seconds: Double, kbpsSum: Double,
                        rate: Int): Option[Array[Float]] =
    if (frames < 2) None
    else Some(Array(seconds.toFloat, 0f, 0f, 1f, rate.toFloat,
      (kbpsSum / frames).toFloat, 0f, 0f))

  // ------------------------------------------------------------ FLAC PCM
  /** Little bit-reader over a byte array (MSB-first, FLAC bit order). */
  private final class BitReader(b: Array[Byte], var byteOff: Int) {
    var bitOff: Int = 0
    def atEnd: Boolean = byteOff >= b.length
    def alignByte(): Unit = if (bitOff != 0) { bitOff = 0; byteOff += 1 }
    def bits(n: Int): Long = {
      var out = 0L
      var left = n
      while (left > 0) {
        if (byteOff >= b.length) throw new java.io.EOFException
        val avail = 8 - bitOff
        val take = math.min(avail, left)
        val chunk = ((b(byteOff) & 0xff) >>> (avail - take)) & ((1 << take) - 1)
        out = (out << take) | chunk
        bitOff += take
        if (bitOff == 8) { bitOff = 0; byteOff += 1 }
        left -= take
      }
      out
    }
    def sbits(n: Int): Long = {
      val v = bits(n)
      if ((v & (1L << (n - 1))) != 0) v - (1L << n) else v
    }
    def unary(): Int = {
      var q = 0
      while (bits(1) == 0) q += 1
      q
    }
  }

  /** REAL FLAC sample decoder — pure-integer, no codec library: frame
    * headers, CONSTANT/VERBATIM/FIXED(0-4)/LPC subframes, RICE/RICE2
    * partitioned residuals, wasted bits, and left/right/mid-side stereo
    * decorrelation, per the public FLAC format spec (RFC 9639). Emits the
    * SAME 8-dim feature vector as [[decodeAudio]] over interleaved samples
    * normalized by 2^(bps-1); None on anything that does not parse (CRC
    * bytes are skipped, not verified — features, not archival integrity).
    */
  def decodeFlac(bytes: Array[Byte]): Option[Array[Float]] = {
    if (bytes == null || bytes.length < 4 + 4 + 34) return None
    if (!(bytes(0) == 'f' && bytes(1) == 'L' && bytes(2) == 'a' && bytes(3) == 'C')) return None
    try {
      // metadata walk: STREAMINFO is block 0; skip to the last block
      var off = 4
      var last = false
      var sampleRate = 0; var channels = 0; var bps = 0; var totalSamples = 0L
      var first = true
      while (!last) {
        val hdr = bytes(off) & 0xff
        last = (hdr & 0x80) != 0
        val btype = hdr & 0x7f
        val len = ((bytes(off + 1) & 0xff) << 16) | ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
        if (first) {
          if (btype != 0 || len < 34) return None
          val si = off + 4
          sampleRate = (((bytes(si + 10) & 0xff) << 12) |
            ((bytes(si + 11) & 0xff) << 4) | ((bytes(si + 12) & 0xf0) >> 4))
          channels = ((bytes(si + 12) >> 1) & 0x7) + 1
          bps = (((bytes(si + 12) & 0x01) << 4) | ((bytes(si + 13) & 0xf0) >> 4)) + 1
          totalSamples = ((bytes(si + 13) & 0x0fL) << 32) |
            (((bytes(si + 14) & 0xffL) << 24) | ((bytes(si + 15) & 0xffL) << 16) |
              ((bytes(si + 16) & 0xffL) << 8) | (bytes(si + 17) & 0xffL))
          first = false
        }
        off += 4 + len
        if (off > bytes.length) return None
      }
      if (sampleRate == 0 || bps < 4 || bps > 32) return None
      val r = new BitReader(bytes, off)
      var sumSq = 0.0; var sumAbs = 0.0; var sum = 0.0
      var peak = 0.0; var zc = 0L; var prevNeg = false
      var nTotal = 0L; var frames = 0L
      val norm = (1L << (bps - 1)).toDouble
      while (!r.atEnd && (totalSamples == 0 || frames < totalSamples)) {
        // ---- frame header
        if (r.bits(14) != 0x3ffe) return None // lost sync
        r.bits(1) // reserved
        r.bits(1) // blocking strategy
        val bsCode = r.bits(4).toInt
        val srCode = r.bits(4).toInt
        val chAsgn = r.bits(4).toInt
        val ssCode = r.bits(3).toInt
        r.bits(1) // reserved
        // UTF-8 coded frame/sample number (up to 7 bytes)
        val lead = r.bits(8).toInt
        var extra = 0
        var l = lead
        while ((l & 0x80) != 0) { extra += 1; l = (l << 1) & 0xff }
        if (extra == 1 || extra > 7) return None // 0xFE = 36-bit sample number
        var e = 0
        while (e < extra - (if (extra > 0) 1 else 0)) { r.bits(8); e += 1 }
        val blockSize = bsCode match {
          case 0 => return None
          case 1 => 192
          case n if n >= 2 && n <= 5 => 576 << (n - 2)
          case 6 => r.bits(8).toInt + 1
          case 7 => r.bits(16).toInt + 1
          case n => 256 << (n - 8)
        }
        if (srCode == 12) r.bits(8)
        else if (srCode == 13 || srCode == 14) r.bits(16)
        val frameBps = ssCode match {
          case 0 => bps
          case 1 => 8
          case 2 => 12
          case 4 => 16
          case 5 => 20
          case 6 => 24
          case 7 => 32
          case _ => return None
        }
        r.bits(8) // CRC-8 (skipped)
        val nCh = if (chAsgn < 8) chAsgn + 1 else 2
        if (nCh != channels) return None
        // ---- subframes
        val chans = Array.ofDim[Array[Long]](nCh)
        var c = 0
        while (c < nCh) {
          // side channel carries one extra bit
          val sbps = frameBps + (chAsgn match {
            case 8 => if (c == 1) 1 else 0  // left/side
            case 9 => if (c == 0) 1 else 0  // side/right
            case 10 => if (c == 1) 1 else 0 // mid/side
            case _ => 0
          })
          chans(c) = decodeSubframe(r, blockSize, sbps)
          c += 1
        }
        r.alignByte()
        r.bits(16) // frame CRC-16 (skipped)
        // ---- stereo decorrelation
        val out = chAsgn match {
          case 8 => // left/side: right = left - side
            val Array(lft, sd) = chans
            Array(lft, Array.tabulate(blockSize)(i => lft(i) - sd(i)))
          case 9 => // side/right: left = right + side
            val Array(sd, rgt) = chans
            Array(Array.tabulate(blockSize)(i => rgt(i) + sd(i)), rgt)
          case 10 => // mid/side
            val Array(mid, sd) = chans
            val lft = Array.tabulate(blockSize) { i =>
              val m = (mid(i) << 1) | (sd(i) & 1L); (m + sd(i)) >> 1
            }
            val rgt = Array.tabulate(blockSize) { i =>
              val m = (mid(i) << 1) | (sd(i) & 1L); (m - sd(i)) >> 1
            }
            Array(lft, rgt)
          case _ => chans
        }
        // ---- interleaved feature accumulation (same loop as decodeAudio)
        var i = 0
        while (i < blockSize) {
          var ch = 0
          while (ch < out.length) {
            val s = out(ch)(i) / norm
            sumSq += s * s; sumAbs += math.abs(s); sum += s
            if (math.abs(s) > peak) peak = math.abs(s)
            val neg = s < 0
            if (nTotal > 0 && neg != prevNeg) zc += 1
            prevNeg = neg
            nTotal += 1
            ch += 1
          }
          i += 1
        }
        frames += blockSize
      }
      if (nTotal == 0) return None
      Some(Array(
        (frames.toDouble / sampleRate).toFloat, channels.toFloat,
        sampleRate.toFloat, math.sqrt(sumSq / nTotal).toFloat,
        (zc.toDouble / nTotal).toFloat, peak.toFloat,
        (sumAbs / nTotal).toFloat, (sum / nTotal).toFloat))
    } catch { case _: Exception => None }
  }

  private def decodeSubframe(r: BitReader, blockSize: Int, bps: Int): Array[Long] = {
    if (r.bits(1) != 0) throw new java.io.IOException("subframe pad bit")
    val stype = r.bits(6).toInt
    val wasted = if (r.bits(1) == 1) r.unary() + 1 else 0
    val ebps = bps - wasted
    val out: Array[Long] =
      if (stype == 0) { // CONSTANT
        val v = r.sbits(ebps)
        Array.fill(blockSize)(v)
      } else if (stype == 1) { // VERBATIM
        Array.fill(blockSize)(r.sbits(ebps))
      } else if ((stype & 0x38) == 0x08 && (stype & 0x07) <= 4) { // FIXED
        val order = stype & 0x07
        val s = new Array[Long](blockSize)
        var i = 0
        while (i < order) { s(i) = r.sbits(ebps); i += 1 }
        decodeResidual(r, blockSize, order, s)
        while (i < blockSize) {
          val pred = order match {
            case 0 => 0L
            case 1 => s(i - 1)
            case 2 => 2 * s(i - 1) - s(i - 2)
            case 3 => 3 * s(i - 1) - 3 * s(i - 2) + s(i - 3)
            case 4 => 4 * s(i - 1) - 6 * s(i - 2) + 4 * s(i - 3) - s(i - 4)
          }
          s(i) += pred
          i += 1
        }
        s
      } else if ((stype & 0x20) != 0) { // LPC
        val order = (stype & 0x1f) + 1
        val s = new Array[Long](blockSize)
        var i = 0
        while (i < order) { s(i) = r.sbits(ebps); i += 1 }
        val precision = r.bits(4).toInt + 1
        if (precision == 16) throw new java.io.IOException("invalid qlp precision")
        val shift = r.sbits(5).toInt
        val coefs = Array.fill(order)(r.sbits(precision))
        decodeResidual(r, blockSize, order, s)
        while (i < blockSize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j) * s(i - 1 - j); j += 1 }
          s(i) += (acc >> shift)
          i += 1
        }
        s
      } else throw new java.io.IOException(s"reserved subframe type $stype")
    if (wasted > 0) { var i = 0; while (i < blockSize) { out(i) <<= wasted; i += 1 } }
    out
  }

  /** Partitioned Rice residual into s(order..blockSize-1). */
  private def decodeResidual(r: BitReader, blockSize: Int, order: Int,
                             s: Array[Long]): Unit = {
    val method = r.bits(2).toInt
    if (method > 1) throw new java.io.IOException("reserved residual method")
    val pBits = if (method == 0) 4 else 5
    val escape = if (method == 0) 15 else 31
    val partOrder = r.bits(4).toInt
    val parts = 1 << partOrder
    val perPart = blockSize >> partOrder
    if ((perPart << partOrder) != blockSize || perPart < order)
      throw new java.io.IOException("bad partition")
    var idx = order
    var p = 0
    while (p < parts) {
      val count = (if (p == 0) perPart - order else perPart)
      val param = r.bits(pBits).toInt
      var k = 0
      if (param == escape) {
        val raw = r.bits(5).toInt
        while (k < count) { s(idx) = if (raw == 0) 0L else r.sbits(raw); idx += 1; k += 1 }
      } else {
        while (k < count) {
          val q = r.unary().toLong
          val v = (q << param) | (if (param == 0) 0L else r.bits(param))
          s(idx) = (v >>> 1) ^ -(v & 1L) // zigzag
          idx += 1; k += 1
        }
      }
      p += 1
    }
  }

  /** STUB decoder for media neither decodable by the JDK nor matching a
    * parseable container: a real implementation would decode inside the
    * same per-partition batch loop (the codec libs are not in this
    * container). The stub emits a deterministic 8-dim "feature" derived
    * from the payload bytes so downstream plumbing (schema, joins, ANN) is
    * exercised honestly. Marked intentionally: replace for production.
    * Since FLAC gained a REAL decoder ([[decodeFlac]]) and MPEG-1 Layer II
    * gained one too ([[MpegAudio.decodeLayer2]]), only MP3 (Layer III
    * Huffman) and MP4 VIDEO samples still land here (their container
    * metadata is parsed for real by [[parseContainerMeta]]). */
  def stubDecode(bytes: Array[Byte]): Array[Float] = {
    // ??? <- real audio/video codec goes here; deterministic fake features
    val out = new Array[Float](8)
    var i = 0
    while (i < bytes.length) {
      out(i % 8) = out(i % 8) + (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    out
  }

  /** Deterministic 24-bit grayscale BMP encoder (r=g=b=v(x,y), rows
    * padded to 4 bytes, bottom-up — the uncompressed BI_RGB layout every
    * decoder round-trips exactly). Fixture/corpus generator for the
    * image-dedup queries: BMP stores raw pixels, so
    * encode -> ImageIO decode -> [[lumaGrid]] is bit-exact and a SQL
    * oracle can replay the generative pixel function without a codec. */
  def encodeBmpGray(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    val rowBytes = (3 * w + 3) & ~3
    val dataSize = rowBytes * h
    val out = new Array[Byte](54 + dataSize)
    def le16(i: Int, x: Int): Unit = {
      out(i) = (x & 0xff).toByte; out(i + 1) = ((x >> 8) & 0xff).toByte
    }
    def le32(i: Int, x: Int): Unit = {
      var j = 0
      while (j < 4) { out(i + j) = ((x >> (8 * j)) & 0xff).toByte; j += 1 }
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, 54 + dataSize); le32(10, 54)          // file size, pixel offset
    le32(14, 40); le32(18, w); le32(22, h)        // BITMAPINFOHEADER
    le16(26, 1); le16(28, 24)                     // planes, bpp
    le32(30, 0); le32(34, dataSize)               // BI_RGB, image size
    le32(38, 2835); le32(42, 2835)                // 72 dpi
    var y = 0
    while (y < h) {
      val row = 54 + (h - 1 - y) * rowBytes       // bottom-up
      var x = 0
      while (x < w) {
        val p = v(x, y)
        require(p >= 0 && p <= 255, s"pixel out of range: $p at ($x,$y)")
        val b = p.toByte
        out(row + 3 * x) = b; out(row + 3 * x + 1) = b; out(row + 3 * x + 2) = b
        x += 1
      }
      y += 1
    }
    out
  }

  /** Deterministic grayscale PNG encoder via the JDK's ImageIO writer —
    * the lossless sibling of [[encodeBmpGray]] for mixed-container corpus
    * construction ([[imageDecodeReport]]'s oracle class). PNG is
    * lossless, so decode recovers v(x, y) exactly; the encoded BYTES may
    * differ across JDK encoder versions, so consumers compare decoded
    * pixels (deterministic), never payload bytes. */
  def encodePngGray(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = v(x, y)
        require(p >= 0 && p <= 255, s"pixel out of range: $p at ($x,$y)")
        img.setRGB(x, y, (p << 16) | (p << 8) | p)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Exact integer luma grid for perceptual hashing: decode (ImageIO),
    * luma_permille = 299r + 587g + 114b per pixel (an INT in [0, 254745];
    * = 1000·v for grayscale), pixel (x, y) lands in cell
    * (x·gw div w, y·gh div h) — the per-pixel assignment formula is the
    * spec, so uneven w/gw splits are well-defined and a SQL oracle
    * replays membership with the same integer division. Returns
    * (w, h, sums, counts) with cell index gy·gw + gx; sums/counts are
    * exact int64, so downstream bit algebra ([[Dedup.dhashBands]] /
    * [[Dedup.phashBands]]) is engine-independent — no float resampling
    * anywhere. None for undecodable payloads (magic-byte gated like
    * [[decodeImage]]). */
  def lumaGrid(bytes: Array[Byte], gw: Int, gh: Int): Option[(Int, Int, Array[Long], Array[Long])] = {
    require(gw > 0 && gh > 0, s"bad grid ${gw}x$gh")
    if (bytes == null || bytes.length < 8) return None
    try {
      val (w, h, px) = decodeArgbPixels(bytes) match {
        case Some(v) => v
        case None => return None
      }
      if (w < gw || h < gh) return None // a cell would be empty
      val sums = new Array[Long](gw * gh)
      val counts = new Array[Long](gw * gh)
      var y = 0
      while (y < h) {
        val gy = y * gh / h
        var x = 0
        while (x < w) {
          val p = px(y * w + x)
          val lum = 299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
            114 * (p & 0xff)
          val cell = gy * gw + x * gw / w
          sums(cell) += lum
          counts(cell) += 1L
          x += 1
        }
        y += 1
      }
      Some((w, h, sums, counts))
    } catch { case _: Exception => None }
  }

  /** Real image RESIZE (the curation mandate's resize step): decode via
    * ImageIO, NEAREST-NEIGHBOR scale with pure integer source mapping
    * (src = x·w/outW — fully deterministic on any JVM, unlike Graphics2D
    * interpolation hints), re-encode as PNG. Returns None for
    * non-decodable payloads. Byte-level PNG output may differ across JDK
    * encoder versions — consumers should compare decoded pixels, which
    * ARE deterministic (the unit test re-decodes). */
  def resizeImage(bytes: Array[Byte], outW: Int, outH: Int): Option[Array[Byte]] = {
    require(outW > 0 && outH > 0, s"bad target size ${outW}x$outH")
    if (bytes == null) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0) return None
      val out = new java.awt.image.BufferedImage(outW, outH,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < outH) {
        val sy = (y.toLong * h / outH).toInt
        var x = 0
        while (x < outW) {
          out.setRGB(x, y, img.getRGB((x.toLong * w / outW).toInt, sy))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      Some(bos.toByteArray)
    } catch { case _: Exception => None }
  }

  /** DataFrame-level image resize — the same mapPartitions batch shape as
    * [[extractFeatures]] (per-partition codec init, binary in → binary
    * out), emitting (id, resized PNG or null). The thumbnail / model-input
    * normalization stage of a multimodal pipeline. */
  def resizeImages(spark: SparkSession, df: DataFrame, idCol: String,
                   binCol: String, outW: Int, outH: Int): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          (id, resizeImage(bytes, outW, outH).orNull)
        }
      }
      .toDF("id", "resized")
  }

  /** Feature extraction over binary payloads: the Scala analogue of a
    * `mapInPandas` batch UDF — mapPartitions so a real decoder amortizes
    * model/codec init once per partition (the batch shape that matters at
    * scale), emitting (id, features). */
  def extractFeatures(spark: SparkSession, df: DataFrame, idCol: String,
                      binCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init happens HERE (codec/model load in production);
        // disabling ImageIO's temp-file cache keeps decode fully in-memory
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          (id,
            if (bytes == null) null
            else decodeImage(bytes)
              .orElse(decodeAudio(bytes))
              .orElse(decodeFlac(bytes)) // real PCM decode, pure-integer JVM
              .orElse(MpegAudio.decodeLayer2(bytes)) // real MP2 sample decode
              .orElse(parseContainerMeta(bytes).map(_._2))
              .getOrElse(stubDecode(bytes)))
        }
      }
      .toDF("id", "features")
  }

  /** REAL ISO-BMFF demux as a Spark op: one row per media sample inside
    * each MP4/MOV/M4A payload — (track_id, codec fourcc, sample index,
    * presentation time, keyframe flag, byte size, raw sample payload), via
    * [[Mp4Demux]]'s sample-table parse (stsd/stts/ctts/stsc/stsz/stco/
    * co64/stss). This is the pre-decode half of video handling a corpus
    * pipeline actually runs on (keyframe selection, codec routing, shard
    * packing by sample extent); only payload DECODE remains stubbed.
    * mapPartitions batch shape; the row explosion is bounded by each
    * container's own sample count. Non-BMFF payloads contribute no rows. */
  def mp4Samples(spark: SparkSession, df: DataFrame, idCol: String,
                 binCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          if (bytes == null) Iterator.empty
          else Mp4Demux.demuxWithPayload(bytes).iterator.map { case (s, payload) =>
            (id, s.trackId, s.codec, s.sampleIdx, s.ptsSec, s.keyframe,
              s.size, payload)
          }
        }
      }
      .toDF("id", "track_id", "codec", "sample_idx", "pts_sec", "keyframe",
        "size", "payload")
  }

  /** Frame/sample selector for arbitrary binary payloads: pick every
    * `stride`-th chunk as pseudo-frames (the generic fallback; for ISO-BMFF
    * containers [[mp4Samples]] extracts REAL samples from the sample table
    * instead). The chunking/explode shape is the scale concern — one row
    * in, many frame rows out, handled by the generator without
    * collecting. */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String,
                   frameBytes: Int = 256, maxFrames: Int = 8): DataFrame =
    // payloads shorter than one frame yield ZERO frames (guard against
    // sequence(0,-1), which descends and would emit phantom frames)
    df.select(col(idCol), posexplode(expr(
      s"CASE WHEN length($binCol) < $frameBytes THEN array() ELSE " +
        s"transform(sequence(0, least(cast(length($binCol)/$frameBytes as int) - 1, ${maxFrames - 1})), " +
        s"i -> substring($binCol, i * $frameBytes + 1, $frameBytes)) END")))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame_bytes")
}
