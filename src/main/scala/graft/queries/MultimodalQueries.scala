package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._

/** Multimodal: real decode kernels for image, PCM, FLAC and MP2, and real
  * ISO-BMFF demux; only MP3 Layer III and video sample decode are stubbed. */
private[graft] object MultimodalQueries {

  val all: Seq[Q] = Seq(
    Q("multimodal_meta", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
        .withColumn("payload", col("text").cast("binary"))
      graft.pipeline.Multimodal.withMediaMeta(docs, "payload", "text/plain")
        .select(col("doc_id"), col("payload_meta.byte_len").as("byte_len"),
          col("payload_meta.mime").as("mime"))
        .orderBy("doc_id")
    },
      () => """SELECT doc_id, CAST(length(text) AS BIGINT) AS byte_len, 'text/plain' AS mime
         FROM documents WHERE doc_id < 50 ORDER BY doc_id"""),

    Q("multimodal_features", (s, dir) => {
      // every REAL decode kernel end-to-end through ONE extractFeatures
      // call on committed deterministic fixtures: MPEG-1 Layer II
      // bitstream+filterbank (mp2), from-scratch FLAC (fixed+Rice /
      // verbatim frames), javax.sound PCM (wav), ImageIO pixels (bmp),
      // ISO-BMFF container metadata (mp4) — plus one text payload pinning
      // the documented stub fallback. The oracle is the VALUES literal of
      // the full 8-dim feature table (kernels separately unit-proven in
      // MpegAudioSpec / PipelineSpec incl. FLAC-vs-WAV cross-decode)
      import s.implicits._
      val df = Seq(
        (1L, fixtureBytes("/graft/fixtures/sample.mp2")),
        (2L, fixtureBytes("/graft/fixtures/sample.flac")),
        (3L, fixtureBytes("/graft/fixtures/sample.wav")),
        (4L, fixtureBytes("/graft/fixtures/sample.bmp")),
        (5L, fixtureBytes("/graft/fixtures/sample.mp4")),
        (6L, "GRAFT stub fallback payload".getBytes("UTF-8")))
        .toDF("doc_id", "payload")
      graft.pipeline.Multimodal.extractFeatures(s, df, "doc_id", "payload")
        .select(col("id") +: (1 to 8).map(i =>
          round(element_at(col("features"), i).cast("double"), 4).as(s"f${i - 1}")): _*)
        .orderBy("id")
    },
      // fixture-pinned oracles: the committed sample.mp2/sample.mp4 bytes
      // are deterministic (FixtureGen), so the expected decode/demux output
      // is a literal table — the driver hash now covers the real Layer II
      // decoder and the ISO-BMFF sample-table demux end to end
      // one row per committed fixture through its REAL kernel: mp2 Layer II
      // decode, FLAC decode, WAV PCM decode, BMP pixel stats, MP4 container
      // metadata, text -> documented stub; values pinned from the
      // deterministic fixtures (kernels unit-proven elsewhere)
      () => """SELECT CAST(id AS BIGINT) AS id, CAST(f0 AS DOUBLE) AS f0,
           CAST(f1 AS DOUBLE) AS f1, CAST(f2 AS DOUBLE) AS f2,
           CAST(f3 AS DOUBLE) AS f3, CAST(f4 AS DOUBLE) AS f4,
           CAST(f5 AS DOUBLE) AS f5, CAST(f6 AS DOUBLE) AS f6,
           CAST(f7 AS DOUBLE) AS f7
         FROM (VALUES
           (1, 0.264,  1.0,    48000.0, 0.3704, 0.0416, 0.6986, 0.3133, 0.0),
           (2, 0.016,  1.0,    8000.0,  0.1455, 0.0625, 0.2441, 0.1262, 0.0095),
           (3, 0.1,    1.0,    8000.0,  0.3535, 0.1088, 0.5,    0.3183, 0.0),
           (4, 8.0,    4.0,    3.0,     0.4985, 0.0,    0.5015, 0.2062, 0.0606),
           (5, 0.5,    0.0,    0.0,     1.0,    1000.0, 0.0,    0.0,    0.0),
           (6, 1.5529, 1.4745, 1.1922,  0.8,    1.149,  0.9294, 1.349,  1.2627))
         t(id, f0, f1, f2, f3, f4, f5, f6, f7)
         ORDER BY id"""),

    Q("multimodal_audio_mp2", (s, dir) => {
      // REAL compressed-audio decode end-to-end through the driver
      // harness: the committed Layer II fixture (FixtureGen) runs the
      // full bitstream+filterbank decoder inside extractFeatures; the
      // oracle pins the exact rounded signal statistics as literals
      import s.implicits._
      val df = Seq((1L, fixtureBytes("/graft/fixtures/sample.mp2")))
        .toDF("doc_id", "payload")
      graft.pipeline.Multimodal.extractFeatures(s, df, "doc_id", "payload")
        .select(col("id"),
          round(element_at(col("features"), 1).cast("double"), 4).as("duration_sec"),
          element_at(col("features"), 2).cast("int").as("channels"),
          element_at(col("features"), 3).cast("int").as("rate_hz"),
          round(element_at(col("features"), 4).cast("double"), 4).as("rms"),
          round(element_at(col("features"), 5).cast("double"), 4).as("zcr"),
          round(element_at(col("features"), 6).cast("double"), 4).as("peak"),
          round(element_at(col("features"), 7).cast("double"), 4).as("mean_abs"))
    },
      () => """SELECT CAST(1 AS BIGINT) AS id, CAST(0.264 AS DOUBLE) AS duration_sec,
           1 AS channels, 48000 AS rate_hz, CAST(0.3704 AS DOUBLE) AS rms,
           CAST(0.0416 AS DOUBLE) AS zcr, CAST(0.6986 AS DOUBLE) AS peak,
           CAST(0.3133 AS DOUBLE) AS mean_abs"""),

    Q("multimodal_mp4_demux", (s, dir) => {
      // REAL ISO-BMFF demux end-to-end: the committed two-chunk container
      // (ctts composition offsets, stss keyframes) explodes to one row
      // per sample; the oracle is the VALUES literal of its sample table
      import s.implicits._
      val df = Seq((1L, fixtureBytes("/graft/fixtures/sample.mp4")))
        .toDF("doc_id", "payload")
      graft.pipeline.Multimodal.mp4Samples(s, df, "doc_id", "payload")
        .select(col("track_id"), col("codec"), col("sample_idx"),
          round(col("pts_sec"), 6).as("pts_sec"), col("keyframe"), col("size"))
        .orderBy("sample_idx")
    },
      () => """SELECT * FROM (VALUES
           (7, 'avc1', 0, CAST(0.0 AS DOUBLE), TRUE, 3),
           (7, 'avc1', 1, CAST(0.1 AS DOUBLE), FALSE, 4),
           (7, 'avc1', 2, CAST(0.25 AS DOUBLE), FALSE, 5),
           (7, 'avc1', 3, CAST(0.3 AS DOUBLE), TRUE, 6),
           (7, 'avc1', 4, CAST(0.4 AS DOUBLE), FALSE, 7))
         t(track_id, codec, sample_idx, pts_sec, keyframe, size)
         ORDER BY sample_idx"""),

    Q("multimodal_decode_report", (s, dir) => {
      // decode-COVERAGE honesty contract of the image-dedup family
      // (VERDICT r15 #2): per sniffed container, how many payloads stock
      // ImageIO actually decodes — the report a user MUST publish next to
      // imageDedupStar results (undecodable payloads self-map there). The
      // engine really encodes each payload, sniffs magic bytes, and
      // attempts the decode in ONE mapPartitions pass (payloads never
      // shuffle; O(#containers) rows reach the agg); the oracle replays
      // the corpus-construction arithmetic (counts by doc_id % 8) —
      // BMP/PNG/TIFF (ImageIO) and WebP (both VP8L and lossy VP8,
      // from-scratch codecs) decode; AVIF/HEIC/corrupt-JPEG sniff but
      // fail; text is unknown
      graft.pipeline.Multimodal.imageDecodeReport(mixedImageCorpus(s, dir))
    },
      // independent replay of the mixed-corpus construction: container and
      // decodability follow from doc_id % 8 by construction (BMP/PNG/TIFF
      // real and decodable via ImageIO; the whole webp class decodes as of
      // r17 — LOSSLESS VP8L through the from-scratch Vp8l decoder AND the
      // real libwebp-encoded lossy fixture through the from-scratch Vp8
      // decoder; AVIF/HEIC/corrupt-JPEG sniffable but undecodable; else
      // unknown) — the ENGINE proves the same counts by actually encoding,
      // sniffing, and running the real decoders per payload
      () => """WITH c AS (SELECT
             CASE doc_id % 8 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
               WHEN 2 THEN 'webp' WHEN 3 THEN 'jpeg' WHEN 4 THEN 'avif'
               WHEN 5 THEN 'unknown' WHEN 6 THEN 'tiff'
               ELSE 'heic' END AS container,
             CASE WHEN doc_id % 8 IN (0, 1, 2, 6)
               THEN 1 ELSE 0 END AS dec
           FROM documents)
         SELECT container, CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(dec) AS BIGINT) AS n_decoded,
           CAST(count(*) - sum(dec) AS BIGINT) AS n_failed,
           round(CAST(sum(dec) AS DOUBLE) / count(*), 6) AS decode_rate
         FROM c GROUP BY container ORDER BY container"""),

    Q("multimodal_image_dims", (s, dir) => {
      // HEADER-ONLY dims over the mixed corpus (r17): a few header bytes
      // per payload — PNG IHDR, BMP info header, TIFF IFD tags, WebP
      // VP8/VP8L/VP8X headers, the ISO-BMFF ispe walk for AVIF *and*
      // HEIC (dims parse for real even where sample decode is a counted
      // stub), JPEG SOF scan (the corrupt class has no SOF -> NULL).
      // Zero shuffle, zero codec. The oracle replays the construction
      // arithmetic per doc_id % 8 / % 16 class.
      graft.pipeline.Multimodal.withImageDims(
          mixedImageCorpus(s, dir, maxId = Some(400L)),
          "payload", "img_id")
        .orderBy("img_id")
    },
      // header-only dims replayed from the construction arithmetic: the
      // decodable classes are fixed 8x8; the webp class is 8x8 (VP8L half)
      // or the 64x48 lossy fixture; AVIF/HEIC carry their ispe values
      // (100 + id%23, 77) / (200 + id%31, 150); corrupt JPEG has no SOF
      // and text no container -> NULL dims
      () => """SELECT doc_id AS img_id,
           CASE doc_id % 8 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
             WHEN 2 THEN 'webp' WHEN 3 THEN 'jpeg' WHEN 4 THEN 'avif'
             WHEN 5 THEN 'unknown' WHEN 6 THEN 'tiff'
             ELSE 'heic' END AS container,
           CAST(CASE
             WHEN doc_id % 8 IN (0, 1, 6) THEN 8
             WHEN doc_id % 8 = 2 THEN (CASE WHEN doc_id % 16 = 2 THEN 8 ELSE 64 END)
             WHEN doc_id % 8 = 4 THEN 100 + doc_id % 23
             WHEN doc_id % 8 = 7 THEN 200 + doc_id % 31
             END AS INTEGER) AS img_w,
           CAST(CASE
             WHEN doc_id % 8 IN (0, 1, 6) THEN 8
             WHEN doc_id % 8 = 2 THEN (CASE WHEN doc_id % 16 = 2 THEN 8 ELSE 48 END)
             WHEN doc_id % 8 = 4 THEN 77
             WHEN doc_id % 8 = 7 THEN 150
             END AS INTEGER) AS img_h
         FROM documents WHERE doc_id < 400 ORDER BY doc_id"""),

    Q("multimodal_lossy_webp", (s, dir) => {
      // the r17 from-scratch VP8 keyframe decoder as a first-class board
      // line: the committed real libwebp-encoded lossy fixture runs the
      // FULL decode (boolean decoder, token trees, dequant, iDCT, intra
      // prediction, loop filter, BT.601 ARGB) inside extractFeatures.
      // The oracle pins the 8-dim feature vector as literals derived
      // INDEPENDENTLY from libwebp's own .yuv dump + the documented
      // BT.601/stat arithmetic (tools/lossy_fixture_dhash.py family);
      // Vp8Spec separately proves plane-level byte equality.
      import s.implicits._
      val df = Seq((1L, lossyVp8Fixture)).toDF("doc_id", "payload")
      graft.pipeline.Multimodal.extractFeatures(s, df, "doc_id", "payload")
        .select(col("id") +: (1 to 8).map(i =>
          round(element_at(col("features"), i).cast("double"), 4).as(s"f${i - 1}")): _*)
        .orderBy("id")
    },
      // the full from-scratch VP8 decode pinned to literals derived from
      // libwebp's own yuv dump (BT.601 + pixel-stat arithmetic in python,
      // independent of graft code — tools/lossy_fixture_dhash.py family);
      // plane-level byte equality is proven separately in Vp8Spec
      () => """SELECT CAST(id AS BIGINT) AS id, CAST(f0 AS DOUBLE) AS f0,
           CAST(f1 AS DOUBLE) AS f1, CAST(f2 AS DOUBLE) AS f2,
           CAST(f3 AS DOUBLE) AS f3, CAST(f4 AS DOUBLE) AS f4,
           CAST(f5 AS DOUBLE) AS f5, CAST(f6 AS DOUBLE) AS f6,
           CAST(f7 AS DOUBLE) AS f7
         FROM (VALUES
           (1, 64.0, 48.0, 4.0, 0.6783, 0.5592, 0.7628, 0.618, 0.0801))
         t(id, f0, f1, f2, f3, f4, f5, f6, f7)
         ORDER BY id"""))

  /** Mixed-container image corpus for the decode-coverage queries: ONE
    * payload per document, container keyed by doc_id % 8 — real BMP,
    * PNG and (r17) TIFF (decodable by stock ImageIO), a webp class
    * split on doc_id % 16 (REAL lossless VP8L through the from-scratch
    * [[graft.pipeline.Vp8l]] decoder vs the REAL libwebp-encoded lossy
    * VP8 fixture through the from-scratch [[graft.pipeline.Vp8]] decoder
    * — both halves decode as of r17), AVIF and (r17) HEIC containers
    * with real meta/iprp/ipco/ispe property trees (sniffable, header
    * dims parse for real, SAMPLE decode counted-not-stubbed), a corrupt
    * JPEG (valid magic, broken stream), and plain non-image bytes. The
    * class arithmetic is the oracle's replay handle: DuckDB counts by
    * doc_id % 8 / % 16 while the engine really encodes, sniffs, and
    * attempts the parse/decode. */
  private def mixedImagePayload(id: Long): Array[Byte] = (id % 8) match {
    case 0 => graft.pipeline.Multimodal.encodeBmpGray(8, 8,
      (x, y) => ((x * 7 + y * 11 + id) % 240 + 8).toInt)
    case 1 => graft.pipeline.Multimodal.encodePngGray(8, 8,
      (x, y) => ((x * 7 + y * 11 + id) % 240 + 8).toInt)
    case 2 =>
      if (id % 16 == 2)
        // REAL lossless WebP: VP8L stream from the in-house encoder —
        // decodes through the from-scratch Vp8l decoder (r16)
        graft.pipeline.Vp8lEncoder.encode(8, 8, Array.tabulate(64) { i =>
          val p = ((i % 8) * 7 + (i / 8) * 11 + id) % 240 + 8
          0xff000000 | (p.toInt << 16) | (p.toInt << 8) | p.toInt
        })
      else
        // REAL lossy WebP (libwebp-encoded VP8 keyframe, FIXTURES.md):
        // decodes through the from-scratch Vp8 decoder (r17) — the
        // r16-era webp_lossy "sniffs but fails" row flips to decoded
        lossyVp8Fixture
    case 3 => // JPEG SOI + APP0 marker, then garbage: sniffs jpeg, decode fails
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte) ++
        s"corrupt jpeg $id".getBytes("UTF-8")
    case 4 => // AVIF: ftyp + meta/iprp/ipco/ispe — dims parse, no decoder
      bmffImagePayload("avif", 100 + (id % 23).toInt, 77)
    case 5 => s"not an image payload $id".getBytes("UTF-8")
    case 6 => graft.pipeline.Multimodal.encodeTiffGray(8, 8,
      (x, y) => ((x * 7 + y * 11 + id) % 240 + 8).toInt)
    case _ => // HEIC: same BMFF shape under the heic brand
      bmffImagePayload("heic", 200 + (id % 31).toInt, 150)
  }

  /** Minimal-but-real ISO-BMFF image container: ftyp(brand) then
    * meta(FullBox){ hdlr, iprp{ ipco{ ispe(w,h) } } } — the hdlr sibling
    * forces [[graft.pipeline.Multimodal.imageDims]]'s walk to SKIP an
    * unknown box like it must on real encoder output. */
  private def bmffImagePayload(brand: String, w: Int, h: Int): Array[Byte] = {
    def be32(v: Int): Array[Byte] =
      Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def box(name: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ name.getBytes("ISO-8859-1") ++ payload
    val ftyp = box("ftyp", brand.getBytes("ISO-8859-1") ++ be32(0) ++
      "mif1".getBytes("ISO-8859-1"))
    val ispe = box("ispe", be32(0) ++ be32(w) ++ be32(h))
    val hdlr = box("hdlr", be32(0) ++ be32(0) ++
      "pict".getBytes("ISO-8859-1") ++ new Array[Byte](12))
    val meta = box("meta", be32(0) ++ hdlr ++ box("iprp", box("ipco", ispe)))
    ftyp ++ meta
  }

  /** `maxId`: optional id cut applied BEFORE the payload-building
    * mapPartitions — payloads are a pure function of the id, so filtering
    * first is result-identical, pushes the predicate to the parquet scan
    * (the typed map is opaque to Catalyst, so a post-map filter can
    * never reach it), and skips encoding payloads that would be dropped. */
  private def mixedImageCorpus(s: SparkSession, dir: String,
                               maxId: Option[Long] = None): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "documents").select(col("doc_id"))
    maxId.fold(ids)(m => ids.filter(col("doc_id") < m)).as[Long]
      .mapPartitions(it => it.map(id => (id, mixedImagePayload(id))))
      .toDF("img_id", "payload")
  }
}
