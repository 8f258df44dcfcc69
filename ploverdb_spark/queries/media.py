"""Multimodal (image/audio/video) catalog entries: media payloads as
opaque binary columns decoded through Arrow-batched ``mapInPandas``.

The fake decode derives every feature from md5/sha256 of the utf-8
payload, which DuckDB recomputes exactly (strings are utf-8, so
md5(text) == md5(bytes)); real PNG/BMP/WAV walks run where the container
is genuine.  Reference parity: media handling is beyond-reference scope
(SURVEY.md §2 pipeline extensions), with per-record degrade semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ploverdb_spark.catalog import load, register
from ploverdb_spark.operators import multimodal as M




def _md5_byte(i: int) -> str:
    """DuckDB fragment: byte ``i`` of md5's 16-byte digest, recovered from
    the hex string (two hex digits -> 16*hi + lo)."""
    hexd = "'0123456789abcdef'"
    hi = f"(strpos({hexd}, substr(h, {2 * i + 1}, 1)) - 1)"
    lo = f"(strpos({hexd}, substr(h, {2 * i + 2}, 1)) - 1)"
    return f"(16 * {hi} + {lo})"


@register(
    "m1_media_features",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, text, md5(text) AS h FROM documents
    )
    SELECT media_id,
           'image' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           substr(sha256(text), 1, 12) AS sha_prefix,
           CAST(64 + {_md5_byte(0)} * 4 AS INTEGER) AS width,
           CAST(64 + {_md5_byte(1)} * 4 AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS n_frames,
           CAST(0 AS INTEGER) AS duration_ms
    FROM m
    """,
    doc="Multimodal plumbing: binary payload column -> Arrow-batched "
    "mapInPandas decode/feature-extract (deterministic fake codec; real "
    "codecs slot into operators/multimodal.py). The fake decode derives "
    "every feature from md5/sha256 of the utf-8 payload, which DuckDB "
    "recomputes exactly (strings are utf-8, so md5(text) == md5(bytes)).",
)
def m1_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = M.text_as_media(docs)
    return M.extract_media_features(media)


@register(
    "m2_frame_samples",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, md5(text) AS h FROM documents
    ), f AS (
      SELECT media_id,
             1 + {_md5_byte(2)} AS n_frames,
             CAST(64 + {_md5_byte(0)} * 4 AS INTEGER) AS width,
             CAST(64 + {_md5_byte(1)} * 4 AS INTEGER) AS height
      FROM m
    )
    SELECT media_id,
           CAST(unnest(range(0, n_frames, 2)) AS INTEGER) AS frame_index,
           width, height
    FROM f
    """,
    doc="Frame-sampling plumbing over 'video' media: every-2nd frame index "
    "exploded from the decoded frame count (md5-derived fake codec) — the "
    "explode shape that matters for partitioning is real and oracle-exact.",
)
def m2_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = M.text_as_media(docs, media_type="video")
    return M.sample_frames(media, every_nth=2)


@register(
    "m3_resize_dims",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, md5(text) AS h FROM documents
    ), d AS (
      SELECT media_id,
             CAST(64 + {_md5_byte(0)} * 4 AS INTEGER) AS width,
             CAST(64 + {_md5_byte(1)} * 4 AS INTEGER) AS height
      FROM m
    ), f AS (
      SELECT media_id, width, height,
             GREATEST(width, height) AS m
      FROM d
    )
    SELECT media_id, width, height,
           CASE WHEN m <= 64 THEN width
                ELSE GREATEST(1, CAST(FLOOR(width * 64.0 / m) AS INTEGER))
           END AS out_width,
           CASE WHEN m <= 64 THEN height
                ELSE GREATEST(1, CAST(FLOOR(height * 64.0 / m) AS INTEGER))
           END AS out_height,
           CAST(CASE WHEN m <= 64 THEN width
                     ELSE GREATEST(1, CAST(FLOOR(width * 64.0 / m) AS INTEGER))
                END
              * CASE WHEN m <= 64 THEN height
                     ELSE GREATEST(1, CAST(FLOOR(height * 64.0 / m) AS INTEGER))
                END * 3 AS BIGINT) AS n_out_bytes,
           CAST(NULL AS VARCHAR) AS thumb_sha
    FROM f
    """,
    doc="Thumbnail-resize plumbing: decode dims -> aspect-preserving "
    "64px fit -> output geometry/byte size, via the same mapInPandas "
    "shape as m1 (payload dropped pre-shuffle). Real pixels go through "
    "the pure-Python nearest-neighbor kernel (unit-tested on decoded "
    "PNG/BMP fixtures); stub-decoded rows carry the geometry math.",
)
def m3_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = M.text_as_media(docs)
    return M.resize_media(media, max_dim=64)


@register(
    "m7_jpeg_metadata",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, md5(text) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS dlen
      FROM documents
    ), p AS (
      SELECT media_id, dlen,
             16 + {_md5_byte(0)} * 4 AS width,
             16 + {_md5_byte(1)} * 4 AS height,
             CASE WHEN {_md5_byte(2)} % 2 = 0 THEN 3 ELSE 1 END AS ncomp,
             {_md5_byte(3)} % 2 = 0 AS progressive,
             {_md5_byte(4)} % 2 = 0 AS has_jfif
      FROM m
    ), q AS (
      SELECT media_id, dlen, width, height, ncomp, progressive, has_jfif,
             CASE WHEN progressive THEN 2 ELSE 1 END AS n_scans
      FROM p
    )
    SELECT media_id,
           2 + (CASE WHEN has_jfif THEN 18 ELSE 0 END) + 69
             + (10 + 3 * ncomp) + n_scans * (8 + 2 * ncomp) + dlen + 2
             AS n_bytes,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(ncomp AS INTEGER) AS n_components,
           CAST(8 AS INTEGER) AS precision,
           progressive,
           has_jfif,
           CAST(n_scans AS INTEGER) AS n_scans,
           dlen AS n_entropy_bytes
    FROM q
    """,
    doc="JPEG frame-header walk (VERDICT r10 item #4): deterministic "
    "baseline/progressive JPEG synthesis (md5-derived dims/components/"
    "flags, payload bytes as the entropy-coded scan data, spec-correct "
    "0xFF byte-stuffing, optional JFIF APP0, a DQT exercising "
    "unknown-segment skipping, one SOS per scan — two for progressive) "
    "round-tripped through a REAL segment walker (SOI, big-endian "
    "segment lengths, SOF0/SOF2 precision/height/width/components, "
    "restart-marker-aware entropy skipping, truncation tolerance, "
    "per-record degrade) in one Arrow-batched mapInPandas.  The oracle "
    "recomputes every field from md5/length, codec-free: n_bytes = SOI + "
    "optional 18-byte APP0 + 69-byte DQT + (10+3c)-byte SOF + "
    "n_scans*(8+2c)-byte SOS headers + entropy bytes + EOI.",
)
def m7_jpeg_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return M.jpeg_metadata(media, synthesize=True)


@register(
    "m8_gif_metadata",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, md5(text) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS dlen
      FROM documents
    ), p AS (
      SELECT media_id, dlen,
             16 + {_md5_byte(0)} * 4 AS width,
             16 + {_md5_byte(1)} * 4 AS height,
             1 + ({_md5_byte(2)} % 4) AS nf,
             {_md5_byte(3)} % 2 = 0 AS has_gct,
             {_md5_byte(4)} % 3 AS gbits,
             {_md5_byte(5)} AS delay_cs
      FROM m
    ), q AS (
      SELECT media_id, dlen, width, height, nf, has_gct, delay_cs,
             dlen // nf AS fq, dlen % nf AS fr,
             CASE WHEN has_gct THEN
               CASE gbits WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 8 END
             ELSE 0 END AS gct_colors
      FROM p
    )
    SELECT media_id,
           6 + 7 + 3 * gct_colors + 7
             + (CASE WHEN nf > 1 THEN 19 ELSE 0 END)
             + nf * 20 + dlen
             + fr * ((fq + 1 + 254) // 255)
             + (nf - fr) * ((fq + 254) // 255)
             + 1 AS n_bytes,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(nf AS INTEGER) AS n_frames,
           has_gct,
           CAST(gct_colors AS INTEGER) AS gct_colors,
           CAST(1 + nf + (CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS INTEGER)
             AS n_extensions,
           CAST(nf * delay_cs * 10 AS BIGINT) AS duration_ms,
           dlen AS n_data_bytes,
           '89a' AS version
    FROM q
    """,
    doc="GIF block walk (the animation sibling of m7): deterministic "
    "GIF89a synthesis (md5-derived dims/frame-count/color-table/delay, "
    "payload split across frames as LZW-stand-in sub-blocks, a comment "
    "extension exercising unknown-extension skipping, NETSCAPE loop "
    "extension when animated) round-tripped through a REAL block walk "
    "(logical screen descriptor, global/local color-table skipping, "
    "sub-block grammar, graphic-control delay accumulation, truncation "
    "tolerance).  The oracle recomputes every field from md5/length, "
    "codec-free: n_bytes = 6+7 header + 3*gct colors + 7-byte comment + "
    "19-byte loop ext + 20 bytes/frame of GCE+descriptor+LZW-size+"
    "terminator + payload + per-frame ceil(len/255) sub-block length "
    "bytes + 1-byte trailer.",
)
def m8_gif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return M.gif_metadata(media, synthesize=True)


@register(
    "m4_audio_metadata",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, md5(text) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS dlen
      FROM documents
    ), p AS (
      SELECT media_id, dlen,
             8000 + {_md5_byte(0)} * 100 AS sample_rate,
             1 + ({_md5_byte(1)} % 2) AS n_channels,
             8 + 8 * ({_md5_byte(2)} % 2) AS bits_per_sample,
             CASE WHEN {_md5_byte(3)} % 2 = 0 THEN 16 ELSE 0 END AS extra
      FROM m
    ), q AS (
      SELECT media_id, dlen, sample_rate, n_channels, bits_per_sample,
             extra,
             dlen // ((n_channels * bits_per_sample) // 8) AS n_samples
      FROM p
    )
    SELECT media_id,
           12 + 24 + extra + 8 + dlen + (dlen % 2) AS n_bytes,
           CAST(sample_rate AS INTEGER) AS sample_rate,
           CAST(n_channels AS INTEGER) AS n_channels,
           CAST(bits_per_sample AS INTEGER) AS bits_per_sample,
           dlen AS n_data_bytes,
           n_samples,
           n_samples * 1000 // sample_rate AS duration_ms
    FROM q
    """,
    doc="Audio-container plumbing: deterministic WAV synthesis "
    "(md5-derived rate/channels/bits, payload bytes as PCM) round-"
    "tripped through a REAL RIFF chunk-walking parser (word alignment, "
    "unknown-chunk tolerance, per-record degrade) in one Arrow-batched "
    "mapInPandas — the audio sibling of m1's image path.  The oracle "
    "recomputes every field from md5/length, codec-free.",
)
def m4_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ploverdb_spark.operators.audio import audio_metadata

    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return audio_metadata(media, synthesize=True)


@register(
    "m5_flac_metadata",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, md5(text) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS dlen
      FROM documents
    ), p AS (
      SELECT media_id, h, dlen,
             8000 + {_md5_byte(0)} * 100 AS sample_rate,
             1 + ({_md5_byte(1)} % 2) AS n_channels,
             8 + 8 * ({_md5_byte(2)} % 2) AS bits_per_sample,
             CASE WHEN {_md5_byte(3)} % 2 = 0 THEN 20 ELSE 0 END AS pad_bytes,
             CASE WHEN {_md5_byte(3)} % 2 = 0 THEN 2 ELSE 1 END AS nblocks
      FROM m
    ), q AS (
      SELECT media_id, h, dlen, sample_rate, n_channels, bits_per_sample,
             pad_bytes, nblocks,
             dlen // ((n_channels * bits_per_sample) // 8) AS total_samples
      FROM p
    )
    SELECT media_id,
           4 + 4 + 34 + pad_bytes + dlen AS n_bytes,
           CAST(sample_rate AS INTEGER) AS sample_rate,
           CAST(n_channels AS INTEGER) AS n_channels,
           CAST(bits_per_sample AS INTEGER) AS bits_per_sample,
           total_samples,
           total_samples * 1000 // sample_rate AS duration_ms,
           CAST(nblocks AS INTEGER) AS n_meta_blocks,
           dlen AS n_frame_bytes,
           substr(h, 1, 12) AS md5_prefix
    FROM q
    """,
    doc="Second real audio-container walk (VERDICT r5 item #7): "
    "deterministic FLAC synthesis (md5-derived rate/channels/bits, "
    "payload bytes as the frame section, md5(payload) as STREAMINFO's "
    "audio-MD5 field) round-tripped through a REAL metadata-block walker "
    "(fLaC magic, STREAMINFO-first rule, last-block flag, unknown-block "
    "tolerance, per-record degrade) in one Arrow-batched mapInPandas.  "
    "The oracle recomputes every field from md5/length, codec-free: "
    "n_bytes = 4 magic + 38 STREAMINFO block + optional 20-byte PADDING "
    "block + frame bytes.",
)
def m5_flac_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ploverdb_spark.operators.audio import flac_metadata

    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return flac_metadata(media, synthesize=True)


@register(
    "m6_mp3_metadata",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, md5(text) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS dlen
      FROM documents
    ), p AS (
      SELECT media_id, dlen,
             list_extract(
               [32,40,48,56,64,80,96,112,128,160,192,224,256,320],
               1 + {_md5_byte(0)} % 14
             ) AS bitrate_kbps,
             list_extract([44100,48000,32000], 1 + {_md5_byte(1)} % 3)
               AS sample_rate,
             CASE WHEN {_md5_byte(2)} % 2 = 1 THEN 1 ELSE 2 END AS n_channels,
             {_md5_byte(3)} % 2 = 0 AS has_id3
      FROM m
    ), q AS (
      SELECT media_id, dlen, bitrate_kbps, sample_rate, n_channels, has_id3,
             144000 * bitrate_kbps // sample_rate AS frame_len
      FROM p
    ), r AS (
      SELECT media_id, dlen, bitrate_kbps, sample_rate, n_channels, has_id3,
             frame_len,
             GREATEST(1, (dlen + frame_len - 5) // (frame_len - 4)) AS n_frames
      FROM q
    )
    SELECT media_id,
           (CASE WHEN has_id3 THEN 42 ELSE 0 END) + n_frames * frame_len
             AS n_bytes,
           CAST(sample_rate AS INTEGER) AS sample_rate,
           CAST(n_channels AS INTEGER) AS n_channels,
           CAST(bitrate_kbps AS INTEGER) AS bitrate_kbps,
           CAST(n_frames AS INTEGER) AS n_frames,
           n_frames * 1152 * 1000 // sample_rate AS duration_ms,
           has_id3,
           FALSE AS is_vbr,
           n_frames * frame_len AS n_audio_bytes
    FROM r
    """,
    doc="Third real audio-container walk (VERDICT r8 item #7): "
    "deterministic MPEG-1 Layer III synthesis (md5-derived bitrate/rate/"
    "channel-mode, payload bytes as CBR frame bodies, optional real "
    "ID3v2 tag with syncsafe size) round-tripped through a REAL "
    "frame-header walker (sync pattern, version/layer bits, bitrate and "
    "sample-rate table lookups, padding bit, VBR detection, truncated-"
    "final-frame tolerance, per-record degrade) in one Arrow-batched "
    "mapInPandas.  The oracle recomputes every field from md5/length, "
    "codec-free: n_bytes = optional 42-byte ID3v2 + "
    "ceil(dlen / (frame_len - 4)) fixed-length frames.",
)
def m6_mp3_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ploverdb_spark.operators.audio import mp3_metadata

    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return mp3_metadata(media, synthesize=True)
