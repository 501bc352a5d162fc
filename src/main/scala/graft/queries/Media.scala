package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Multimodal-column queries: binary media + typed metadata, frame
  * sampling, and batch feature extraction (see
  * `graft.operators.Multimodal` for the stubbed-codec contract).
  *
  * Oracle strategy: the binary column is derived from `documents.text`
  * (utf-8), and the fake decoder is a byte histogram — so DuckDB replays
  * frame arithmetic directly and histogram bins as character-class counts
  * over the source text (the corpus is ascii lowercase + space, so only
  * bins 2 (space), 6 (a–o) and 7 (p–z) are populated).
  */
object Media extends QueryPack {

  private val FrameBytes = 64
  private val Stride = 2

  override def defs: Map[String, Q] = Map(
    // Expression path: opaque-binary stats + fixed-stride frame sampling.
    "qa4_media_frames" -> ((s, dir) => {
      val media = Multimodal.mediaTable(s, dir).filter(col("doc_id") < 50)
      Multimodal.sampleFrames(media, FrameBytes, Stride)
        .groupBy(col("doc_id"), col("n_bytes"), col("n_frames"),
          md5(col("media")).as("media_md5"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(length(col("frame")).cast("long")).as("sampled_bytes"))
        .select(col("doc_id"), col("n_bytes"), col("media_md5"),
          col("n_frames"), col("n_sampled"), col("sampled_bytes"))
        .orderBy(col("doc_id"))
    }),

    // REAL container-header parsing (r8c — no codec library needed:
    // dimensions live in the first bytes of every common container).
    // The blobs are genuine PNG/BMP/GIF headers CONSTRUCTED in-query
    // with dimensions derived from doc_id (big-endian IHDR int32s,
    // little-endian BITMAPINFOHEADER int32s, little-endian GIF
    // logical-screen uint16s), parsed back by the native
    // media_dimensions expression; junk bytes must come back NULL, not
    // kill the scan. The oracle is closed-form in doc_id — if parsing
    // and byte layout disagree anywhere, dims_ok goes false.
    "q1c_media_headers" -> ((s, dir) => {
      s.sql(
        """WITH d AS (SELECT doc_id, cast(16 + doc_id % 1024 AS INT) AS w,
          |             cast(9 + doc_id % 512 AS INT) AS h
          |           FROM documents WHERE doc_id < 60),
          |hx AS (SELECT doc_id, w, h,
          |  lpad(hex(w), 8, '0') AS wb, lpad(hex(h), 8, '0') AS hb FROM d),
          |le AS (SELECT doc_id, w, h, wb, hb,
          |  concat(substr(wb,7,2), substr(wb,5,2), substr(wb,3,2),
          |         substr(wb,1,2)) AS wl,
          |  concat(substr(hb,7,2), substr(hb,5,2), substr(hb,3,2),
          |         substr(hb,1,2)) AS hl
          |  FROM hx),
          |blobs AS (SELECT doc_id, w, h, CASE cast(doc_id % 3 as int)
          |    WHEN 0 THEN unhex(concat('89504E470D0A1A0A',
          |      '0000000D49484452', wb, hb, '0806000000'))
          |    WHEN 1 THEN unhex(concat('424D', repeat('00', 12),
          |      '28000000', wl, hl, '0100'))
          |    ELSE unhex(concat('474946383961', substr(wl, 1, 4),
          |      substr(hl, 1, 4), '00F700'))
          |  END AS media FROM le),
          |p AS (SELECT doc_id, w, h, media_dimensions(media) AS dim,
          |      media_dimensions(unhex('DEADBEEF')) AS junk FROM blobs),
          |-- r10 differential gates for the DIB-generation arms: a
          |-- 12-byte BITMAPCOREHEADER blob (uint16 w/h at 18/20), a
          |-- top-down BITMAPINFOHEADER blob (negative int32 height,
          |-- reported as magnitude), and a garbage negative-width blob
          |-- (must be NULL — BMP widths are strictly positive)
          |edge AS (SELECT le.doc_id,
          |  media_dimensions(unhex(concat('424D', repeat('00', 12),
          |    '0C000000', substr(wl,1,4), substr(hl,1,4),
          |    repeat('00', 8)))) AS core,
          |  media_dimensions(unhex(concat('424D', repeat('00', 12),
          |    '28000000', wl,
          |    concat(substr(nh,7,2), substr(nh,5,2), substr(nh,3,2),
          |           substr(nh,1,2)), '0100'))) AS td,
          |  media_dimensions(unhex(concat('424D', repeat('00', 12),
          |    '28000000',
          |    concat(substr(nw,7,2), substr(nw,5,2), substr(nw,3,2),
          |           substr(nw,1,2)), hl, '0100'))) AS negw
          |  FROM le JOIN (SELECT doc_id,
          |      lpad(hex(4294967296 - h), 8, '0') AS nh,
          |      lpad(hex(4294967296 - w), 8, '0') AS nw
          |    FROM d) n ON le.doc_id = n.doc_id),
          |-- r10: a real JPEG (SOI + APP0 to prove the marker walk +
          |-- SOF0 with big-endian uint16 height/width) and a FLAC
          |-- STREAMINFO block (20-bit sample rate, 3-bit channels-1,
          |-- 5-bit bits-1 packed at offsets 18-21)
          |jp AS (SELECT doc_id, media_dimensions(unhex(concat(
          |    'FFD8', 'FFE0', '0010', repeat('00', 14),
          |    'FFC0', '0011', '08', substr(hb,5,4), substr(wb,5,4),
          |    '03', repeat('00', 9)))) AS jdim
          |  FROM hx),
          |-- r10: minimal ISO-BMFF video — ftyp, then moov>trak>tkhd
          |-- with the 16.16 fixed-point presentation size (integer part
          |-- in the high 16 bits)
          |mp AS (SELECT doc_id, media_dimensions(unhex(concat(
          |    '00000010', '66747970', '69736F6D', '00000000',
          |    '0000006C', '6D6F6F76',
          |    '00000064', '7472616B',
          |    '0000005C', '746B6864', '00000000', repeat('00', 72),
          |    substr(wb,5,4), '0000', substr(hb,5,4), '0000'))) AS mdim
          |  FROM hx),
          |fl AS (SELECT doc_id, rate AS frate, ch AS fch,
          |  media_audio_info(unhex(concat('664C6143', '00', '000022',
          |    repeat('00', 10),
          |    lpad(hex(rate div 4096), 2, '0'),
          |    lpad(hex((rate div 16) % 256), 2, '0'),
          |    lpad(hex((rate % 16) * 16 + (ch - 1) * 2), 2, '0'),
          |    'F0', repeat('00', 20)))) AS fa
          |  FROM (SELECT doc_id,
          |          cast(8000 + (doc_id % 5) * 8000 AS INT) AS rate,
          |          cast(1 + doc_id % 2 AS INT) AS ch FROM d) z),
          |wav AS (SELECT doc_id, unhex(concat(
          |    '52494646', '24000000', '57415645', '666D7420',
          |    '10000000', '0100',
          |    lpad(hex(1 + doc_id % 2), 2, '0'), '00',
          |    concat(substr(rb,7,2), substr(rb,5,2), substr(rb,3,2),
          |           substr(rb,1,2)),
          |    '00000000', '0000', '1000')) AS wb
          |  FROM (SELECT doc_id,
          |          lpad(hex(8000 + (doc_id % 5) * 8000), 8, '0') AS rb
          |        FROM d) x)
          |SELECT cast(p.doc_id as bigint) AS doc_id, dim.format AS fmt,
          |  dim.width AS width, dim.height AS height,
          |  (dim.width = w AND dim.height = h) AS dims_ok,
          |  (junk IS NULL) AS junk_null,
          |  media_audio_info(wb).sample_rate AS rate,
          |  media_audio_info(wb).channels AS ch,
          |  (media_audio_info(wb).bits = 16) AS bits_ok,
          |  (core.format = 'bmp' AND core.width = w AND core.height = h)
          |    AS core_ok,
          |  (td.format = 'bmp' AND td.width = w AND td.height = h)
          |    AS topdown_ok,
          |  (negw IS NULL) AS negw_null,
          |  (jdim.format = 'jpeg' AND jdim.width = w AND jdim.height = h)
          |    AS jpeg_ok,
          |  (fa.sample_rate = frate AND fa.channels = fch AND fa.bits = 16)
          |    AS flac_ok,
          |  (mdim.format = 'mp4' AND mdim.width = w AND mdim.height = h)
          |    AS mp4_ok
          |FROM p JOIN wav ON p.doc_id = wav.doc_id
          |JOIN edge ON p.doc_id = edge.doc_id
          |JOIN jp ON p.doc_id = jp.doc_id
          |JOIN fl ON p.doc_id = fl.doc_id
          |JOIN mp ON p.doc_id = mp.doc_id
          |ORDER BY doc_id""".stripMargin)
    }),

    // Compressed text-column storage (r10): gzip the document text,
    // store the blob, decompress in the scan projection — the standard
    // corpus layout. The gate proves the round-trip byte-lossless
    // (md5 of the decompressed text equals md5 of the original, which
    // DuckDB computes directly), corrupt bytes decode to NULL instead
    // of killing the scan, and the repetitive fixture corpus genuinely
    // compresses.
    "q1l_gzip_text" -> ((s, dir) => {
      s.sql(
        """WITH z AS (SELECT doc_id, source, text,
          |    gzip(encode(text, 'UTF-8')) AS blob,
          |    zstd(encode(text, 'UTF-8')) AS zblob
          |  FROM documents),
          |r AS (SELECT source, text,
          |    decode(gunzip(blob), 'UTF-8') AS back,
          |    decode(unzstd(zblob), 'UTF-8') AS zback,
          |    length(blob) AS z_bytes, length(zblob) AS zs_bytes,
          |    length(text) AS t_bytes,
          |    gunzip(unhex('DEADBEEF')) AS junk,
          |    unzstd(unhex('DEADBEEF')) AS zjunk
          |  FROM z)
          |SELECT source, cast(count(*) as bigint) AS n,
          |  cast(sum(t_bytes) as bigint) AS chars,
          |  bool_and(md5(back) = md5(text)) AS roundtrip_ok,
          |  (sum(z_bytes) < sum(t_bytes)) AS compresses,
          |  bool_and(junk IS NULL) AS junk_null,
          |  bool_and(md5(zback) = md5(text)) AS z_roundtrip_ok,
          |  (sum(zs_bytes) < sum(t_bytes)) AS z_compresses,
          |  bool_and(zjunk IS NULL) AS z_junk_null
          |FROM r GROUP BY source ORDER BY source""".stripMargin)
    }),

    // Typed mapPartitions path: one decoder per partition, fixed-width
    // feature vector out (the real-codec shape, deterministic fake body).
    "qa5_media_features" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val media = Multimodal.mediaTable(s, dir).filter(col("doc_id") < 50)
        .as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media, () => Multimodal.FakeDecoder)
        .toDF()
        .select(col("doc_id"), col("n_bytes"),
          element_at(col("histogram"), 3).as("n_space"),
          element_at(col("histogram"), 7).as("n_a_o"),
          element_at(col("histogram"), 8).as("n_p_z"),
          round(col("feat_norm"), 4).as("feat_norm"))
        .orderBy(col("doc_id"))
    })
  )

  override def oracles: Map[String, String] = Map(
    // The dimensions were CONSTRUCTED from doc_id, so the oracle is
    // closed-form; the parsing itself is locked by dims_ok.
    "q1c_media_headers" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
        |    WHEN 1 THEN 'bmp' ELSE 'gif' END AS fmt,
        |  CAST(16 + doc_id % 1024 AS INT) AS width,
        |  CAST(9 + doc_id % 512 AS INT) AS height,
        |  true AS dims_ok, true AS junk_null,
        |  CAST(8000 + (doc_id % 5) * 8000 AS INT) AS rate,
        |  CAST(1 + doc_id % 2 AS INT) AS ch, true AS bits_ok,
        |  true AS core_ok, true AS topdown_ok, true AS negw_null,
        |  true AS jpeg_ok, true AS flac_ok, true AS mp4_ok
        |FROM documents WHERE doc_id < 60 ORDER BY doc_id""".stripMargin,

    "q1l_gzip_text" ->
      """SELECT source, count(*) AS n,
        |  CAST(sum(length(text)) AS BIGINT) AS chars,
        |  true AS roundtrip_ok, true AS compresses, true AS junk_null,
        |  true AS z_roundtrip_ok, true AS z_compresses,
        |  true AS z_junk_null
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "qa4_media_frames" ->
      s"""WITH m AS (
         |  SELECT doc_id, n_chars AS n_bytes, md5(text) AS media_md5,
         |    CAST(ceil(n_chars / $FrameBytes.0) AS BIGINT) AS n_frames
         |  FROM documents WHERE doc_id < 50)
         |SELECT doc_id, n_bytes, media_md5, n_frames,
         |  CAST(len(range(0, n_frames, $Stride)) AS BIGINT) AS n_sampled,
         |  CAST(list_sum(list_transform(range(0, n_frames, $Stride),
         |    k -> least($FrameBytes, n_bytes - $FrameBytes * k))) AS BIGINT)
         |    AS sampled_bytes
         |FROM m ORDER BY doc_id""".stripMargin,

    "qa5_media_features" ->
      """SELECT doc_id, n_chars AS n_bytes,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
        |    AS n_space,
        |  CAST(len(regexp_extract_all(text, '[a-o]')) AS BIGINT) AS n_a_o,
        |  CAST(len(regexp_extract_all(text, '[p-z]')) AS BIGINT) AS n_p_z,
        |  round(sqrt(
        |    (length(text) - length(replace(text, ' ', '')))^2
        |    + len(regexp_extract_all(text, '[a-o]'))^2
        |    + len(regexp_extract_all(text, '[p-z]'))^2), 4) AS feat_norm
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin
  )
}
