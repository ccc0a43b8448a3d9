"""Multimodal media-metadata queries (``mm_*``)."""

from pyspark.sql import functions as F

from ferenda_spark.operators.multimodal import (audio_meta,
                                                dhash_hamming_pairs, exif_meta,
                                                image_dhash, image_meta,
                                                image_text_pairs,
                                                sample_frames, shot_boundaries,
                                                sniff_mime, synth_exif_blobs,
                                                synth_frame_blobs,
                                                synth_gray_blobs,
                                                synth_image_blobs,
                                                synth_video_blobs,
                                                synth_wav_blobs, video_meta,
                                                with_blob)
from ferenda_spark.registry import query
from ferenda_spark.registry.common import _read


def _gallery_pages(spark, sf_dir):
    """Planted gallery pages: 1-3 <img> tags per doc whose src/alt
    are closed-form in (doc_id, k) — missing alt, boilerplate
    'stock photo', and two good caption shapes."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def img(k):
        case = (did + k) % 4
        alt = (F.when(case == 1, F.lit(' alt="stock photo"'))
               .when(case == 2,
                     F.concat(F.lit(' alt="photo of entity '),
                              (did % 50).cast("string"), F.lit('"')))
               .when(case == 3,
                     F.concat(F.lit(' alt="chart for topic '),
                              (did % 11).cast("string"), F.lit('"')))
               .otherwise(F.lit("")))
        tag = F.concat(
            F.lit('<img src="https://img.example.org/'),
            did.cast("string"), F.lit("/%d.jpg\"" % k), alt,
            F.lit(">"))
        return F.when(did % 3 >= k, tag).otherwise(F.lit(""))

    html = F.concat(F.lit("<html><body><p>Gallery "),
                    did.cast("string"), F.lit("</p>"),
                    img(0), img(1), img(2), F.lit("</body></html>"))
    return d.select(
        F.concat(F.lit("https://example.org/gallery/"),
                 did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))


@query("mm_image_meta", oracle="""
    SELECT doc_id,
           CAST(16 + (length(text) % 240) AS INT) AS width,
           CAST(16 + ((ascii(substr(text, 1, 1)) * 7) % 240)
             AS INT) AS height,
           CAST((16 + (length(text) % 240))
                * (16 + ((ascii(substr(text, 1, 1)) * 7) % 240))
             AS BIGINT) AS n_pixels,
           'stub/raw' AS format,
           CAST(length(text) AS BIGINT) AS n_bytes
    FROM documents""")
def _q_mm_image_meta(spark, sf_dir):
    return image_meta(with_blob(_read(spark, sf_dir, "documents")))


@query("mm_image_meta_real", oracle="""
    WITH dims AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 16 + doc_id % 240
               WHEN 1 THEN 8 + doc_id % 500
               WHEN 2 THEN 4 + (doc_id * 5) % 320
               ELSE 10 + doc_id % 600 END AS w,
             CASE doc_id % 4
               WHEN 0 THEN 16 + (doc_id * 7) % 240
               WHEN 1 THEN 8 + (doc_id * 3) % 300
               WHEN 2 THEN 4 + (doc_id * 11) % 200
               ELSE 10 + (doc_id * 13) % 400 END AS h,
             CASE doc_id % 4
               WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
               WHEN 2 THEN 'image/gif' ELSE 'image/bmp' END AS fmt,
             CASE doc_id % 4
               WHEN 0 THEN 33 WHEN 1 THEN 17
               WHEN 2 THEN 14 ELSE 30 END AS nb
      FROM documents)
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels, fmt AS format,
           CAST(nb AS BIGINT) AS n_bytes
    FROM dims""")
def _q_mm_image_meta_real(spark, sf_dir):
    """Real (not stub) image decode: JVM-synthesized minimal
    PNG/JPEG/GIF/BMP byte streams -> dependency-free header parse
    (PNG IHDR / JPEG SOF0 / GIF screen descriptor / BMP
    BITMAPINFOHEADER) in the Arrow batch pass.  Dims are closed-form
    in doc_id so the oracle recomputes them without touching bytes."""
    return image_meta(synth_image_blobs(_read(spark, sf_dir, "documents")),
                      real=True)


# mirrors multimodal.synth_image_blobs: doc_id % 4 selects the
# format (0 PNG / 1 JPEG / 2 GIF / 3 BMP), dims closed-form
# mirrors multimodal.synth_gray_blobs + gray_dhash_bytes:
# pixels closed-form in doc_id, bit (r,c) = p(r,c) > p(r,c+1)
# packed at r*8+c (56 bits, positive BIGINT in both engines)
@query("mm_image_dhash", oracle="""
    WITH grid AS (
      SELECT doc_id, doc_id // 2 AS base, r.r, c.c
      FROM documents,
           (SELECT CAST(unnest(generate_series(0, 6)) AS BIGINT)
              AS r) r,
           (SELECT CAST(unnest(generate_series(0, 8)) AS BIGINT)
              AS c) c),
    px AS (
      SELECT doc_id, r, c,
             ((((base * 2654435761) % 1048573)
               * ((r*9+c+1) * (r*9+c+2) * (r*9+c+5))
               + base + r * 9 + c) % 509 % 256
              + (doc_id % 2)
                * (CASE WHEN base % 63 = r * 9 + c
                        THEN 128 ELSE 0 END)) % 256 AS p
      FROM grid),
    bits AS (
      SELECT a.doc_id, a.r, a.c,
             CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
      FROM px a JOIN px b
        ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
      WHERE a.c < 8),
    dh AS (
      SELECT doc_id,
             CAST(SUM(bit * (CAST(1 AS BIGINT) << (r * 8 + c)))
                  AS BIGINT) AS dhash
      FROM bits GROUP BY doc_id)
    SELECT doc_id, dhash FROM dh ORDER BY doc_id""")
def _q_mm_image_dhash(spark, sf_dir):
    """Perceptual difference-hash (dHash) over JVM-synthesized raw
    grayscale rasters: real byte-level kernel in the Arrow pass
    (magic + dims + row-major pixel parse, 56-bit pack); pixels are
    closed-form in doc_id so the oracle recomputes the hash without
    touching bytes."""
    return (image_dhash(synth_gray_blobs(_read(spark, sf_dir,
                                               "documents")))
            .orderBy("doc_id"))


# banded Hamming LSH over the same dhash CTE: 4 x 14-bit
# bands, candidate on band equality, verify bit_count(xor)
@query("mm_image_dhash_pairs", oracle="""
    WITH grid AS (
      SELECT doc_id, doc_id // 2 AS base, r.r, c.c
      FROM documents,
           (SELECT CAST(unnest(generate_series(0, 6)) AS BIGINT)
              AS r) r,
           (SELECT CAST(unnest(generate_series(0, 8)) AS BIGINT)
              AS c) c),
    px AS (
      SELECT doc_id, r, c,
             ((((base * 2654435761) % 1048573)
               * ((r*9+c+1) * (r*9+c+2) * (r*9+c+5))
               + base + r * 9 + c) % 509 % 256
              + (doc_id % 2)
                * (CASE WHEN base % 63 = r * 9 + c
                        THEN 128 ELSE 0 END)) % 256 AS p
      FROM grid),
    bits AS (
      SELECT a.doc_id, a.r, a.c,
             CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
      FROM px a JOIN px b
        ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
      WHERE a.c < 8),
    dh AS (
      SELECT doc_id,
             CAST(SUM(bit * (CAST(1 AS BIGINT) << (r * 8 + c)))
                  AS BIGINT) AS dhash
      FROM bits GROUP BY doc_id),
    sliced AS (
      SELECT doc_id, dhash, b.band,
             (dhash >> (b.band * 14)) % 16384 AS val
      FROM dh,
           (SELECT CAST(unnest(generate_series(0, 3)) AS BIGINT)
              AS band) b),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             bit_count(xor(x.dhash, y.dhash)) AS distance
      FROM sliced x JOIN sliced y
        ON x.band = y.band AND x.val = y.val
       AND x.doc_id < y.doc_id)
    SELECT doc_a, doc_b, CAST(distance AS INT) AS distance
    FROM cand WHERE distance <= 6
    ORDER BY doc_a, doc_b""")
def _q_mm_image_dhash_pairs(spark, sf_dir):
    """Near-duplicate images by banded Hamming LSH over dHash
    (4 x 14-bit bands, verify bit_count(xor) <= 6): each (2k, 2k+1)
    doc pair is a planted near-dup at distance <= 2, below the
    bands-count pigeonhole bound, so recall is provably 1.0 — the
    image-side MinHash-banding analogue."""
    h = image_dhash(synth_gray_blobs(_read(spark, sf_dir, "documents")))
    return (dhash_hamming_pairs(h, bands=4, band_bits=14,
                                max_distance=6)
            .orderBy("doc_a", "doc_b"))


# mirrors multimodal.synth_wav_blobs: 44-byte canonical WAV
# headers, every decoded field closed-form in doc_id
@query("mm_audio_meta", oracle="""
    WITH wav AS (
      SELECT doc_id, 1 + doc_id % 2 AS ch,
             8000 + (doc_id % 5) * 4000 AS rate,
             1 + doc_id % 441 AS ns
      FROM documents)
    SELECT doc_id, CAST(ch AS INT) AS channels,
           CAST(rate AS INT) AS sample_rate, CAST(16 AS INT) AS bits,
           CAST(ns AS BIGINT) AS n_samples,
           CAST(ns * 1000 // rate AS BIGINT) AS duration_ms,
           CAST(44 AS BIGINT) AS n_bytes
    FROM wav""")
def _q_mm_audio_meta(spark, sf_dir):
    """Real WAV/RIFF audio metadata: JVM-synthesized 44-byte canonical
    headers -> chunk-walking fmt/data parse in the Arrow batch pass
    (streaming-friendly: the declared data size is used, payloads are
    never fetched).  Every field is closed-form in doc_id."""
    return audio_meta(synth_wav_blobs(_read(spark, sf_dir, "documents")))


@query("mm_frame_sample", oracle="""
    WITH fr AS (
      SELECT doc_id,
             unnest(generate_series(0, length(text) % 4)) AS i
      FROM documents)
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST(i AS DOUBLE) / 2.0 AS frame_ts FROM fr""")
def _q_mm_frame_sample(spark, sf_dir):
    return (sample_frames(with_blob(_read(spark, sf_dir, "documents")))
            .select("doc_id", "frame_idx", "frame_ts"))


# closed-form: the planted blob kind per doc_id%8
@query("mm_mime_sniff", oracle="""
    SELECT doc_id,
           CASE doc_id % 8
             WHEN 0 THEN 'image/jpeg'
             WHEN 1 THEN 'image/png'
             WHEN 2 THEN 'image/gif'
             WHEN 3 THEN 'audio/wav'
             WHEN 4 THEN 'application/pdf'
             WHEN 5 THEN 'application/gzip'
             WHEN 6 THEN 'text/html'
             ELSE 'application/octet-stream'
           END AS mime
    FROM documents ORDER BY doc_id""")
def _q_mime_sniff(spark, sf_dir):
    """Magic-byte triage over synthesized blobs: doc_id%8 plants
    jpeg/png/gif/wav/pdf/gzip/html/junk."""
    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    blob = (F.when(m == 0, F.unhex(F.lit("FFD8FFE000104A464946")))
            .when(m == 1, F.unhex(F.lit("89504E470D0A1A0A0000")))
            .when(m == 2, F.encode(F.lit("GIF89a;"), "UTF-8"))
            .when(m == 3, F.concat(
                F.encode(F.lit("RIFF"), "UTF-8"),
                F.unhex(F.lit("24000000")),
                F.encode(F.lit("WAVE"), "UTF-8")))
            .when(m == 4, F.encode(F.lit("%PDF-1.4"), "UTF-8"))
            .when(m == 5, F.unhex(F.lit("1F8B0800")))
            .when(m == 6, F.encode(F.lit("<!DOCTYPE html><html>"),
                                   "UTF-8"))
            .otherwise(F.encode(F.lit("plain text bytes"), "UTF-8")))
    return (d.select("doc_id", sniff_mime(blob).alias("mime"))
            .orderBy("doc_id"))


# mirrors multimodal.synth_exif_blobs: every decoded field
# closed-form in doc_id, blob always 116 bytes
@query("mm_exif_meta", oracle="""
    SELECT doc_id,
           CAST(32 + doc_id % 480 AS INT) AS width,
           CAST(24 + (doc_id * 3) % 360 AS INT) AS height,
           CAST(1 + doc_id % 8 AS INT) AS orientation,
           CAST(72 + doc_id % 228 AS INT) AS x_resolution,
           '2020:01:01 '
             || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
             || ':'
             || lpad(CAST((doc_id * 7) % 60 AS VARCHAR),
                     2, '0')
             || ':'
             || lpad(CAST((doc_id * 13) % 60 AS VARCHAR),
                     2, '0') AS datetime_original,
           CAST(116 AS BIGINT) AS n_bytes
    FROM documents ORDER BY doc_id""")
def _q_mm_exif_meta(spark, sf_dir):
    """Real EXIF decode: JVM-synthesized JPEG+APP1 blobs (116-byte
    little-endian TIFF, 5-entry IFD0 with inline AND offset values)
    -> dependency-free segment/IFD walk in the Arrow pass; every
    field closed-form in doc_id so the oracle recomputes it without
    touching bytes."""
    return (exif_meta(synth_exif_blobs(_read(spark, sf_dir,
                                             "documents")))
            .orderBy("doc_id"))


# mirrors _gallery_pages: alt/src closed-form in (doc_id, k)
@query("mm_alt_text_pairs", oracle="""
    WITH imgs AS (
      SELECT doc_id,
             unnest(generate_series(0, doc_id % 3)) AS k
      FROM documents),
    c AS (SELECT doc_id, k, (doc_id + k) % 4 AS cs FROM imgs)
    SELECT 'https://example.org/gallery/' || doc_id AS url,
           CAST(k AS INT) AS img_idx,
           'https://img.example.org/' || doc_id || '/' || k
             || '.jpg' AS img_src,
           CASE cs WHEN 1 THEN 'stock photo'
                   WHEN 2 THEN 'photo of entity '
                               || (doc_id % 50)
                   WHEN 3 THEN 'chart for topic '
                               || (doc_id % 11) END
             AS alt_text,
           CAST(CASE cs WHEN 1 THEN 2 WHEN 2 THEN 4
                        WHEN 3 THEN 4 ELSE 0 END AS INT)
             AS n_alt_words,
           cs IN (2, 3) AS kept
    FROM c ORDER BY url, img_idx""")
def _q_mm_alt_text_pairs(spark, sf_dir):
    """LAION-style image-text pair mining over planted gallery
    pages: real DOM walk emits every <img> in document order; the
    quality gate (>= 2 alt words, not an exact boilerplate string)
    flags rather than drops."""
    return (image_text_pairs(_gallery_pages(spark, sf_dir))
            .orderBy("url", "img_idx"))


# per-(doc, shot) dHash recomputed from the closed-form
# pixels (same mix as mm_image_dhash, base = 2*doc + shot)
@query("mm_video_shots", oracle="""
    WITH fr AS (
      SELECT doc_id,
             CAST(unnest(generate_series(0, 3 + doc_id % 3))
                  AS INT) AS frame_idx
      FROM documents),
    sb AS (SELECT DISTINCT doc_id,
                  doc_id * 2 + CASE WHEN frame_idx >= 2
                               THEN 1 ELSE 0 END AS base
           FROM fr),
    grid AS (
      SELECT doc_id, base, r.r, c.c
      FROM sb,
           (SELECT CAST(unnest(generate_series(0, 6))
                        AS BIGINT) AS r) r,
           (SELECT CAST(unnest(generate_series(0, 8))
                        AS BIGINT) AS c) c),
    px AS (
      SELECT doc_id, base, r, c,
             (((base * 2654435761) % 1048573)
              * ((r*9+c+1) * (r*9+c+2) * (r*9+c+5))
              + base + r * 9 + c) % 509 % 256 AS p
      FROM grid),
    bits AS (
      SELECT a.doc_id, a.base, a.r, a.c,
             CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
      FROM px a JOIN px b
        ON a.doc_id = b.doc_id AND a.base = b.base
       AND a.r = b.r AND b.c = a.c + 1
      WHERE a.c < 8),
    dh AS (
      SELECT doc_id, base,
             CAST(SUM(bit * (CAST(1 AS BIGINT) << (r * 8 + c)))
                  AS BIGINT) AS dhash
      FROM bits GROUP BY doc_id, base),
    fz AS (
      SELECT fr.doc_id, fr.frame_idx, dh.dhash
      FROM fr JOIN dh
        ON dh.doc_id = fr.doc_id
       AND dh.base = fr.doc_id * 2
           + CASE WHEN fr.frame_idx >= 2 THEN 1 ELSE 0 END),
    lagd AS (
      SELECT doc_id, frame_idx, dhash,
             lag(dhash) OVER (PARTITION BY doc_id
                              ORDER BY frame_idx) AS prev
      FROM fz)
    SELECT doc_id, frame_idx, dhash,
           CASE WHEN prev IS NOT NULL THEN
             CAST(bit_count(xor(dhash, prev)) AS BIGINT) END
             AS distance,
           COALESCE(bit_count(xor(dhash, prev)) > 6, TRUE)
             AS is_boundary
    FROM lagd ORDER BY doc_id, frame_idx""")
def _q_mm_video_shots(spark, sf_dir):
    """Shot-boundary detection over synthesized frame sequences
    (planted hard cut at frame 2): real dHash kernel per frame in
    the Arrow pass, consecutive Hamming distance via one video-keyed
    lag window."""
    return (shot_boundaries(synth_frame_blobs(
        _read(spark, sf_dir, "documents")))
        .orderBy("doc_id", "frame_idx"))


# MP4/WebM header decode: every field closed-form from doc_id
# (even = ISO-BMFF 232 B, odd = WebM 51 B)
@query("mm_video_meta", oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'mp4'
                ELSE 'webm' END AS container,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1000
                ELSE 1000000 END AS BIGINT) AS timescale,
           CAST(5000 + (doc_id * 37) % 60000 AS BIGINT)
             AS duration_ms,
           CAST(160 + doc_id % 1760 AS INT) AS width,
           CAST(120 + (doc_id * 3) % 960 AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 232
                ELSE 51 END AS BIGINT) AS n_bytes
    FROM documents ORDER BY doc_id""")
def _q_mm_video_meta(spark, sf_dir):
    """Real MP4/WebM container-header decode (multimodal.mp4_meta_
    bytes / webm_meta_bytes): closed-form minimal ISO-BMFF and EBML
    blobs synthesized JVM-side, header-only parse via Arrow batches;
    the oracle restates duration/dims from doc_id.  Closes the r4
    AV-decode stub: NotImplementedError now scopes to genuinely
    undecodable stream codecs only (no ffmpeg in container)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return (video_meta(synth_video_blobs(docs))
            .orderBy("doc_id"))
