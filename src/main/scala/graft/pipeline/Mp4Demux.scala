package graft.pipeline

import scala.collection.mutable.ArrayBuffer

/** ISO-BMFF (MP4/MOV/M4A) sample-table DEMUXER — pure byte parsing per the
  * public ISO/IEC 14496-12 box structure, no codec library.
  *
  * What a training-data pipeline needs from video/audio containers before
  * any decode: the per-sample map (which track, what codec, byte extent,
  * timestamp, keyframe flag) and the raw sample payloads — that is what
  * frame-level sampling, shard packing, and codec-aware routing operate
  * on. This module extracts all of it for real: stsd (codec fourcc), stts
  * (+ optional ctts composition offsets), stsc chunk mapping, stsz sizes,
  * stco/co64 chunk offsets, stss sync samples. Only the pixel/sample
  * DECODE of those payloads remains with [[Multimodal.stubDecode]].
  *
  * Scale shape: demux runs per row inside a mapPartitions batch (see
  * [[Multimodal.mp4Samples]]); output is one row per sample — the
  * row-explosion a generator would produce, bounded by the container's
  * own sample count.
  */
object Mp4Demux {

  /** One media sample: byte extent within the container plus timing.
    * `codec` resolves through stsc's sample_description_index into the
    * stsd entry list (multi-entry tracks label each sample with ITS
    * chunk's codec, not just the first entry's). */
  final case class Sample(trackId: Int, codec: String, sampleIdx: Int,
                          ptsSec: Double, keyframe: Boolean,
                          offset: Long, size: Int)

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Entry counts are untrusted file bytes driving allocations: cap by
    * what actually fits in the box (a corrupt 0x3FFFFFFF count would
    * otherwise attempt a multi-GB allocation — OutOfMemoryError is an
    * Error, so the corrupt-box catch would NOT contain it). */
  private def capped(dataStart: Int, end: Long, entrySize: Int, declared: Long): Int = {
    val fits = math.max(0L, (end - dataStart) / entrySize)
    math.min(declared, fits).toInt
  }

  private final class TrackState {
    var trackId: Int = -1
    var timescale: Double = 0.0
    var codecs: Array[String] = Array.empty             // stsd entries, in order
    var sttsRuns: Array[(Long, Long)] = Array.empty     // (count, delta)
    var cttsRuns: Array[(Long, Long)] = Array.empty     // (count, offset)
    var stsc: Array[(Long, Long, Long)] = Array.empty   // (firstChunk, samplesPerChunk, descIdx)
    var sizes: Array[Int] = Array.empty
    var uniformSize: Int = 0
    var nSamples: Int = 0
    var chunkOffsets: Array[Long] = Array.empty
    var syncSamples: Set[Int] = null                    // null = all sync
    var invalid: Boolean = false                        // malformed sibling box seen
  }

  /** Demux every track's sample table. Returns Nil for non-BMFF bytes or
    * containers without a complete stbl (metadata-only probes keep using
    * [[Multimodal.parseContainerMeta]]). */
  def demux(bytes: Array[Byte]): Seq[Sample] = {
    if (bytes == null || bytes.length < 16 || fourcc(bytes, 4) != "ftyp") return Nil
    val tracks = ArrayBuffer.empty[TrackState]
    var cur: TrackState = null

    def walk(from: Long, to: Long, depth: Int): Unit = {
      var off = from
      while (off + 8 <= to && depth < 10) {
        val size0 = be32(bytes, off.toInt)
        val typ = fourcc(bytes, off.toInt + 4)
        val (hdr, size) =
          if (size0 == 1 && off + 16 <= to) (16L, be64(bytes, off.toInt + 8))
          else if (size0 == 0) (8L, to - off)
          else (8L, size0)
        if (size < hdr || off + size > to) {
          // a malformed box size means nothing after it at this level can
          // be trusted; a partially-populated sample table must not emit
          // confidently wrong rows (e.g. an unreached stss would report
          // EVERY sample as a keyframe) — poison the current track
          if (cur != null) cur.invalid = true
          return
        }
        val body = (off + hdr).toInt
        val end = off + size
        typ match {
          case "moov" | "mdia" | "minf" | "stbl" => walk(body, end, depth + 1)
          case "trak" =>
            cur = new TrackState
            tracks += cur
            walk(body, end, depth + 1)
            cur = null
          case "tkhd" if cur != null =>
            val ver = bytes(body) & 0xff
            // v0: fullbox + ctime(4) + mtime(4) + id; v1: 8-byte times
            val idOff = body + 4 + (if (ver == 1) 16 else 8)
            if (idOff + 4 <= end) cur.trackId = be32(bytes, idOff).toInt
          case "mdhd" if cur != null =>
            val ver = bytes(body) & 0xff
            val tsOff = body + 4 + (if (ver == 1) 16 else 8)
            if (tsOff + 4 <= end) cur.timescale = be32(bytes, tsOff).toDouble
          case "stsd" if cur != null =>
            // walk EVERY sample-description entry (size-prefixed boxes);
            // stsc's sample_description_index resolves into this list at
            // emission, so multi-entry tracks get per-chunk codecs
            if (body + 8 <= end) {
              val declared = be32(bytes, body + 4)
              val list = ArrayBuffer.empty[String]
              var p = body + 8
              var k = 0L
              var ok = true
              while (ok && k < declared && p + 8 <= end) {
                val esz = be32(bytes, p)
                if (esz < 8 || p + esz > end) ok = false
                else { list += fourcc(bytes, p + 4); p += esz.toInt; k += 1 }
              }
              // a malformed entry (or a count the box can't hold) leaves
              // sample_description_index unresolvable — poison the track
              // rather than label samples with a guessed codec
              if (k < declared) cur.invalid = true
              cur.codecs = list.toArray
            }
          case "stts" if cur != null =>
            val n = capped(body + 8, end, 8, be32(bytes, body + 4))
            cur.sttsRuns = Array.tabulate(n) { j =>
              (be32(bytes, body + 8 + 8 * j), be32(bytes, body + 12 + 8 * j))
            }
          case "ctts" if cur != null =>
            // version 1 carries SIGNED offsets (negative = leading
            // B-frames); version 0 unsigned — sign-extend accordingly
            val signed = (bytes(body) & 0xff) == 1
            val n = capped(body + 8, end, 8, be32(bytes, body + 4))
            cur.cttsRuns = Array.tabulate(n) { j =>
              val raw = be32(bytes, body + 12 + 8 * j)
              (be32(bytes, body + 8 + 8 * j), if (signed) raw.toInt.toLong else raw)
            }
          case "stsc" if cur != null =>
            val n = capped(body + 8, end, 12, be32(bytes, body + 4))
            cur.stsc = Array.tabulate(n) { j =>
              (be32(bytes, body + 8 + 12 * j), be32(bytes, body + 12 + 12 * j),
                be32(bytes, body + 16 + 12 * j))
            }
          case "stsz" if cur != null =>
            cur.uniformSize = be32(bytes, body + 4).toInt
            if (cur.uniformSize == 0) {
              cur.nSamples = capped(body + 12, end, 4, be32(bytes, body + 8))
              cur.sizes = Array.tabulate(cur.nSamples)(j => be32(bytes, body + 12 + 4 * j).toInt)
            } else
              // uniform sizes leave no per-entry bytes to bound against;
              // every sample occupies >= 1 byte of this very file, so the
              // file length caps the count (dts/cts arrays allocate from it)
              cur.nSamples = math.min(be32(bytes, body + 8), bytes.length.toLong).toInt
          case "stco" if cur != null =>
            val n = capped(body + 8, end, 4, be32(bytes, body + 4))
            cur.chunkOffsets = Array.tabulate(n)(j => be32(bytes, body + 8 + 4 * j))
          case "co64" if cur != null =>
            val n = capped(body + 8, end, 8, be32(bytes, body + 4))
            cur.chunkOffsets = Array.tabulate(n)(j => be64(bytes, body + 8 + 8 * j))
          case "stss" if cur != null =>
            val n = capped(body + 8, end, 4, be32(bytes, body + 4))
            cur.syncSamples = Array.tabulate(n)(j => be32(bytes, body + 8 + 4 * j).toInt).toSet
          case _ => ()
        }
        off = end
      }
    }
    try walk(0, bytes.length.toLong, 0)
    catch { case _: Exception => return Nil } // truncated/corrupt boxes

    tracks.toSeq.flatMap { t =>
      if (t.invalid || t.nSamples == 0 || t.chunkOffsets.isEmpty ||
          t.stsc.isEmpty || t.timescale <= 0) Nil
      else {
        def sizeOf(i: Int): Int = // 0-based
          if (t.uniformSize != 0) t.uniformSize else t.sizes(i)
        // decode timestamps: stts deltas accumulated, + ctts offset
        val dts = new Array[Long](t.nSamples)
        var si = 0; var acc = 0L
        t.sttsRuns.foreach { case (cnt, delta) =>
          var j = 0L
          while (j < cnt && si < t.nSamples) { dts(si) = acc; acc += delta; si += 1; j += 1 }
        }
        val cts = new Array[Long](t.nSamples)
        si = 0
        t.cttsRuns.foreach { case (cnt, offc) =>
          var j = 0L
          while (j < cnt && si < t.nSamples) { cts(si) = offc; si += 1; j += 1 }
        }
        // chunk map: samples-per-chunk for chunk c = last stsc entry with
        // firstChunk <= c
        val out = ArrayBuffer.empty[Sample]
        var sample = 0 // 0-based running index
        var chunk = 1
        while (sample < t.nSamples && chunk <= t.chunkOffsets.length) {
          var spc = 1L
          var sdi = 1L
          t.stsc.foreach { case (fc, n, d) => if (fc <= chunk) { spc = n; sdi = d } }
          // resolve this chunk's codec via its sample_description_index
          // (1-based); an out-of-range index falls back to the first entry
          val codec =
            if (sdi >= 1 && sdi <= t.codecs.length) t.codecs(sdi.toInt - 1)
            else if (t.codecs.nonEmpty) t.codecs(0)
            else ""
          var within = 0L
          var offInChunk = 0L
          while (within < spc && sample < t.nSamples) {
            val sz = sizeOf(sample)
            val key = t.syncSamples == null || t.syncSamples.contains(sample + 1)
            out += Sample(t.trackId, codec, sample,
              (dts(sample) + cts(sample)) / t.timescale, key,
              t.chunkOffsets(chunk - 1) + offInChunk, sz)
            offInChunk += sz
            sample += 1
            within += 1
          }
          chunk += 1
        }
        out.toSeq
      }
    }
  }

  /** Demux + slice the payload bytes out of the container (bounds-checked;
    * samples whose extent falls outside the buffer are dropped). */
  def demuxWithPayload(bytes: Array[Byte]): Seq[(Sample, Array[Byte])] =
    demux(bytes).flatMap { s =>
      // overflow-safe form: offset + size could wrap Long on a corrupt
      // co64 offset and sneak past a naive `offset + size <= length`
      if (s.offset >= 0 && s.size >= 0 && s.offset <= bytes.length.toLong - s.size)
        Some((s, java.util.Arrays.copyOfRange(bytes, s.offset.toInt, s.offset.toInt + s.size)))
      else None
    }
}
