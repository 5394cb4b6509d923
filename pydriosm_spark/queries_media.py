"""Multimodal queries — ALL oracled.  DuckDB reconstructs every
payload's byte stream in SQL (magic + little-endian int32 headers + the
md5 counter stream); the MANIFEST oracle pins the payload bytes
cross-engine (md5-over-hex of the binary column), and the three FEATURE
oracles recompute the feature math over those reconstructed streams in
pure SQL — per-byte extraction via substr over the hex stream, channel
sums / signed-int16 PCM stats / frame means in integer-exact arithmetic
— sharing no code with the mapInPandas kernels in multimodal/media.py.
The single float step (audio RMS sqrt) is exact: the int64 square-sum is
< 2^53 so the float64 division, sqrt, and truncation are bit-identical
in numpy and DuckDB."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydriosm_spark.multimodal import media as M


def q_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, kind, n_bytes, payload_md5hex): the typed-metadata +
    content-address manifest a lakehouse keeps per media object."""
    return M.media_table(spark, sf_dir).select(
        "media_id",
        "kind",
        F.length("payload").cast("long").alias("n_bytes"),
        F.expr("md5(lower(hex(payload)))").alias("payload_md5hex"),
    )


def _i32le_hex(v: str) -> str:
    """DuckDB SQL: int expression -> 4-byte little-endian lowercase hex."""
    bs = [f"({v}) % 256", f"(({v}) // 256) % 256", f"(({v}) // 65536) % 256",
          f"(({v}) // 16777216) % 256"]
    return " || ".join(f"lower(lpad(to_hex({b}), 2, '0'))" for b in bs)


#: fixed md5-block count covering the largest payload of any kind
#: (audio: (256+127)*2 bytes -> 48 blocks); DuckDB's range() cannot take
#: a per-row (lateral) bound, so the stream is over-generated and cut
_STREAM_BLOCKS = 48


def _stream_hex(key_expr: str, nbytes: str) -> str:
    """DuckDB SQL scalar subquery: first ``nbytes`` bytes of the md5
    counter stream for ``key_expr``, as lowercase hex (mirrors
    media._stream_bytes)."""
    return (
        f"substr((SELECT string_agg(md5({key_expr} || ':' || r.i), '' ORDER BY r.i) "
        f"FROM range(0, {_STREAM_BLOCKS}) r(i)), 1, ({nbytes}) * 2)"
    )


def oracle_media_manifest() -> str:
    img_n = "( (8 + doc_id % 9) * (6 + doc_id % 7) * 3 )"
    aud_n = "( (256 + doc_id % 128) * 2 )"
    vid_n = "( 8 * 6 * (4 + doc_id % 5) )"
    img_hex = (
        "'46494d47' || " + _i32le_hex("8 + doc_id % 9") + " || "
        + _i32le_hex("6 + doc_id % 7")
        + " || " + _stream_hex("'img' || doc_id", img_n)
    )
    aud_hex = (
        "'46415544' || " + _i32le_hex("8000") + " || "
        + _i32le_hex("256 + doc_id % 128")
        + " || " + _stream_hex("'aud' || doc_id", aud_n)
    )
    vid_hex = (
        "'46564944' || " + _i32le_hex("8") + " || " + _i32le_hex("6") + " || "
        + _i32le_hex("4 + doc_id % 5")
        + " || " + _stream_hex("'vid' || doc_id", vid_n)
    )
    return f"""
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(CASE doc_id % 3 WHEN 0 THEN 12 + {img_n}
            WHEN 1 THEN 12 + {aud_n}
            ELSE 16 + {vid_n} END AS BIGINT) AS n_bytes,
       CASE doc_id % 3 WHEN 0 THEN md5({img_hex})
            WHEN 1 THEN md5({aud_hex})
            ELSE md5({vid_hex}) END AS payload_md5hex
FROM documents"""


#: per-kind payload byte ceilings (images w<=16,h<=12: 576; audio
#: n<=383 samples: 766; video 8*6*(nf<=8): 384) — DuckDB's range() joins
#: a fixed upper bound and filters i < n_bytes per row, since lateral
#: per-row bounds are unavailable
_IMG_MAX, _AUD_MAX, _VID_MAX = 576, 766, 384


def oracle_audio_features() -> str:
    """RMS + zero crossings over the SQL-reconstructed PCM stream.
    Sample j = signed little-endian int16 at bytes (2j, 2j+1); RMS uses
    the one float step the kernel uses (sqrt of the exact int64
    square-sum / n, truncated at e4 — bit-identical in float64)."""
    return f"""
WITH auds AS (
  SELECT doc_id AS media_id, 8000 AS sr, 256 + doc_id % 128 AS n,
         {_stream_hex("'aud' || doc_id", "(256 + doc_id % 128) * 2")} AS pcm_hex
  FROM documents WHERE doc_id % 3 = 1
),
samples AS (
  SELECT media_id, sr, n, j,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
  FROM (
    SELECT media_id, sr, n, r.j AS j,
           ('0x' || substr(pcm_hex, r.j * 4 + 1, 2))::BIGINT
           + 256 * ('0x' || substr(pcm_hex, r.j * 4 + 3, 2))::BIGINT AS u
    FROM auds, range(0, {(_AUD_MAX + 1) // 2}) r(j)
    WHERE r.j < n
  )
),
crossed AS (
  SELECT media_id, sr, n, s,
         lead(s) OVER (PARTITION BY media_id ORDER BY j) AS s_next
  FROM samples
)
SELECT media_id, CAST(sr AS INT) AS sample_rate, CAST(n AS INT) AS n_samples,
       CAST(floor(sqrt(CAST(sum(s * s) AS DOUBLE) / n) * 10000) AS BIGINT) AS rms_e4,
       CAST(sum(CASE WHEN s * s_next < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
FROM crossed GROUP BY media_id, sr, n"""


def oracle_video_frames() -> str:
    """Every 2nd frame's mean gray level over the SQL-reconstructed
    frame stream: byte i belongs to frame i // (w*h)."""
    return f"""
WITH vids AS (
  SELECT doc_id AS media_id, 8 AS w, 6 AS h, 4 + doc_id % 5 AS nf,
         {_stream_hex("'vid' || doc_id", "8 * 6 * (4 + doc_id % 5)")} AS fr_hex
  FROM documents WHERE doc_id % 3 = 2
),
bytes AS (
  SELECT media_id, w, h, r.i // (w * h) AS frame_idx,
         ('0x' || substr(fr_hex, r.i * 2 + 1, 2))::BIGINT AS b
  FROM vids, range(0, {_VID_MAX}) r(i)
  WHERE r.i < w * h * nf
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(sum(b) * 10000 // (w * h) AS BIGINT) AS frame_mean_e4
FROM bytes WHERE frame_idx % 2 = 0
GROUP BY media_id, frame_idx, w, h"""


def q_media_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt a deterministic subset of payloads (truncation below the
    header, truncation inside the body, magic stomp), then validate from
    the BYTES — the quarantine routing a 10^12-object ingest needs.  The
    oracle derives the same verdicts from the corruption arithmetic; the
    engine must earn them from the actual binary column."""
    m = M.media_table(spark, sf_dir).withColumn(
        "payload",
        F.expr(
            "CASE WHEN media_id % 37 = 0 THEN substring(payload, 1, 8) "
            "WHEN media_id % 37 = 1 THEN substring(payload, 1, 20) "
            "WHEN media_id % 41 = 0 THEN concat(X'00', substring(payload, 2, length(payload) - 1)) "
            "ELSE payload END"
        ),
    )
    return M.media_validate(m)


def oracle_media_quarantine() -> str:
    return """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       (doc_id % 37 NOT IN (0, 1) AND doc_id % 41 <> 0) AS valid,
       CASE WHEN doc_id % 37 = 0 THEN 'too_short'
            WHEN doc_id % 37 = 1 THEN 'truncated'
            WHEN doc_id % 41 = 0 THEN 'bad_magic'
            ELSE NULL END AS reason
FROM documents"""


def q_media_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Features + 2x block-mean resize of every image in ONE registry
    row (VERDICT r4: media_image_features and media_image_resize merged
    so the whole registry fits the driver's 50-query gate; both kernels
    stay separate public surfaces).  r6: one image-only generation and
    ONE fused decode pass (image_features_resize) — the previous shape
    generated the table twice, decoded twice, and joined on media_id."""
    return M.image_features_resize(
        M.media_table(spark, sf_dir, kinds=("image",)), factor=2
    )


def oracle_media_image() -> str:
    """Mean RGB per image plus the 2x block-mean resize, both recomputed
    over ONE shared ``imgs`` CTE of SQL-reconstructed source pixels and
    joined on media_id.  Byte i of the pixel stream belongs to channel
    i%3 (row-major RGB); means are scaled to e4 by integer floor
    division, and each resized pixel is ``sum // 4`` (the kernel's exact
    float64 mean truncation), re-wrapped in the FIMG container and
    matched md5-over-hex byte-for-byte — the arithmetic of
    multimodal/media.py:image_features_resize without sharing any code."""
    n_px = "(w * h * 3)"
    return f"""
WITH imgs AS (
  SELECT doc_id AS media_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h,
         {_stream_hex("'img' || doc_id", "(8 + doc_id % 9) * (6 + doc_id % 7) * 3")} AS px_hex
  FROM documents WHERE doc_id % 3 = 0
),
fb AS (
  SELECT media_id, w, h, r.i AS i,
         ('0x' || substr(px_hex, r.i * 2 + 1, 2))::BIGINT AS b
  FROM imgs, range(0, {_IMG_MAX}) r(i)
  WHERE r.i < {n_px}
),
feats AS (
  SELECT media_id, w, h,
         CAST(sum(CASE WHEN i % 3 = 0 THEN b ELSE 0 END) * 10000 // (w * h) AS BIGINT) AS mean_r_e4,
         CAST(sum(CASE WHEN i % 3 = 1 THEN b ELSE 0 END) * 10000 // (w * h) AS BIGINT) AS mean_g_e4,
         CAST(sum(CASE WHEN i % 3 = 2 THEN b ELSE 0 END) * 10000 // (w * h) AS BIGINT) AS mean_b_e4
  FROM fb GROUP BY media_id, w, h
),
px AS (
  SELECT media_id, w // 2 AS nw, h // 2 AS nh,
         r.i // (w * 3) AS y, (r.i % (w * 3)) // 3 AS x, r.i % 3 AS ch,
         ('0x' || substr(px_hex, r.i * 2 + 1, 2))::BIGINT AS b
  FROM imgs, range(0, {_IMG_MAX}) r(i)
  WHERE r.i < w * h * 3
),
small AS (
  SELECT media_id, nw, nh, y // 2 AS ry, x // 2 AS rx, ch,
         CAST(sum(b) // 4 AS BIGINT) AS v
  FROM px WHERE y < nh * 2 AND x < nw * 2
  GROUP BY media_id, nw, nh, y // 2, x // 2, ch
),
hexs AS (
  SELECT media_id, nw, nh,
         string_agg(lower(lpad(to_hex(v), 2, '0')), '' ORDER BY ry, rx, ch) AS ph
  FROM small GROUP BY media_id, nw, nh
)
SELECT f.media_id, CAST(f.w AS INT) AS width, CAST(f.h AS INT) AS height,
       f.mean_r_e4, f.mean_g_e4, f.mean_b_e4,
       CAST(x.nw AS INT) AS resized_width, CAST(x.nh AS INT) AS resized_height,
       md5('46494d47' || {_i32le_hex("x.nw")} || {_i32le_hex("x.nh")} || x.ph) AS resized_md5hex
FROM feats f JOIN hexs x USING (media_id)"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.audio_features(M.media_table(spark, sf_dir, kinds=("audio",)))


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.video_frame_sample(M.media_table(spark, sf_dir, kinds=("video",)), every=2)


def registry() -> dict:
    # media_image_features + media_image_resize merged into media_image
    # (VERDICT r4: the whole registry must fit the driver's 50-query
    # gate).
    return {
        "media_manifest": (q_media_manifest, oracle_media_manifest()),
        "media_image": (q_media_image, oracle_media_image()),
        "media_quarantine": (q_media_quarantine, oracle_media_quarantine()),
        "media_audio_features": (q_audio_features, oracle_audio_features()),
        "media_video_frames": (q_video_frame_sample, oracle_video_frames()),
    }
