"""Deterministic synthesis of the engine's input tables.

The target input is an Iceberg table of Common-Crawl-style web pages
``webpages(url, warc_ts, html, text, lang)`` whose extracted text yields
geocoded point features.  In-sandbox we synthesize it deterministically
from the driver's ``documents`` parquet (TESTDATA.md) with **pure integer
arithmetic** so that the DuckDB differential oracle can reproduce every
value bit-for-bit:

* mention count for doc ``i``: ``m = i % 4``  (0..3 geo mentions)
* mention ``j`` offsets (units of 1e-5 degree) inside the fixture bbox
  (Rutland bbox ``[-0.82, 52.52] .. [-0.43, 52.76]``, FIXTURES.md §1):
      u = (2*((i*53 + j*17 + 7) % 3899) + 1) * 5      in [5, 38985]
      v = (2*((i*37 + j*11 + 3) % 2399) + 1) * 5      in [5, 23985]
* lon_e5 = -82000 + u,  lat_e5 = 5252000 + v
* coordinate STRINGS are built by integer div/mod + lpad (never by float
  formatting), then both engines ``CAST AS DOUBLE`` the same string →
  identical IEEE-754 doubles.
* the geo token embedded in the page text: ``geo:<lat_str>,<lon_str>``

Offsets always end in the digit 5 while every synthetic geometry edge
lies on a multiple of 100 → no test point ever sits on a boundary, so
ray-casting / floor-based cell math cannot flip on FP noise.

Geometry sides (small, broadcastable — like the reference's per-region
layer tables, /root/reference/pydriosm/reader/parser.py:1387-1393):

* ``grid``   — 13x8 axis-aligned rectangles tiling the bbox (3000x3000 u)
  ≙ the reference's 'multipolygons' layer recast as a clean tiling.
* ``zones``  — 24 L-shaped (non-convex) polygons with gaps: full rect
  5000x4500 at origin (1700 + zx*6000, 1100 + zy*5500) minus its upper-
  right 2500x2250 quadrant.  Non-convexity makes the ray-cast PIP
  refinement load-bearing; the oracle expresses membership as
  rect AND NOT quadrant.
* ``places`` — 60 point features for kNN:
      pu = (p*641 + 311) % 39000,  pv = (p*389 + 173) % 24000
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydriosm_spark.session import local_frame

# ---- frozen constants (changing any of these breaks golden outputs) ----
LON0_E5 = -82000          # bbox west edge, 1e-5 deg
LAT0_E5 = 5_252_000       # bbox south edge
BB_W_E5 = 39_000          # bbox width
BB_H_E5 = 24_000          # bbox height
M_MOD = 4
KX = (53, 17, 7, 3899)    # (a, b, c, mod) for u
KY = (37, 11, 3, 2399)
GRID_NX, GRID_NY, GRID_CELL = 13, 8, 3000
ZONE_NX, ZONE_NY = 6, 4
ZONE_DX, ZONE_DY = 6000, 5500
ZONE_OX, ZONE_OY = 1700, 1100
ZONE_W, ZONE_H = 5000, 4500
ZONE_QW, ZONE_QH = 2500, 2250      # removed upper-right quadrant
N_PLACES = 60
PLACE_U = (641, 311, 39_000)       # (a, c, mod)
PLACE_V = (389, 173, 24_000)

FIXED_EPOCH = "2024-10-08 00:00:00"


# ---------------------------------------------------------------------------
# dialect helpers — one arithmetic, two renderings (Spark SQL / DuckDB SQL)
# ---------------------------------------------------------------------------

def _idiv(a: str, b: int, dialect: str) -> str:
    return f"(({a}) DIV {b})" if dialect == "spark" else f"(({a}) // {b})"


def u_sql(i: str, j: str) -> str:
    a, b, c, mod = KX
    return f"((2 * ((({i}) * {a} + ({j}) * {b} + {c}) % {mod}) + 1) * 5)"


def v_sql(i: str, j: str) -> str:
    a, b, c, mod = KY
    return f"((2 * ((({i}) * {a} + ({j}) * {b} + {c}) % {mod}) + 1) * 5)"


def _str_type(dialect: str) -> str:
    return "STRING" if dialect == "spark" else "VARCHAR"


def lat_str_sql(v: str, dialect: str) -> str:
    st = _str_type(dialect)
    e5 = f"({LAT0_E5} + ({v}))"
    return (
        f"(CAST({_idiv(e5, 100000, dialect)} AS {st}) || '.' || "
        f"lpad(CAST(({e5}) % 100000 AS {st}), 5, '0'))"
    )


def lon_str_sql(u: str, dialect: str) -> str:
    # lon_e5 = -82000 + u is always negative in-bbox; format as -0.xxxxx
    st = _str_type(dialect)
    neg = f"({-LON0_E5} - ({u}))"
    return (
        f"('-' || CAST({_idiv(neg, 100000, dialect)} AS {st}) || '.' || "
        f"lpad(CAST(({neg}) % 100000 AS {st}), 5, '0'))"
    )


def token_sql(i: str, j: str, dialect: str) -> str:
    u, v = u_sql(i, j), v_sql(i, j)
    return f"('geo:' || {lat_str_sql(v, dialect)} || ',' || {lon_str_sql(u, dialect)})"


def fulltext_sql(i: str, base_text: str, dialect: str) -> str:
    """text with 0..3 appended geo tokens (m = i % 4)."""
    parts = [base_text]
    for j in range(M_MOD - 1):
        parts.append(
            f"(CASE WHEN ({i}) % {M_MOD} >= {j + 1} "
            f"THEN ' ' || {token_sql(i, str(j), dialect)} ELSE '' END)"
        )
    return "(" + " || ".join(parts) + ")"


def mentions_cte_duckdb() -> str:
    """DuckDB CTE producing (doc_id, mention_idx, u, v) — the oracle's
    arithmetic ground truth for the extraction/tiling/join/kNN queries."""
    return f"""
mentions AS (
  SELECT d.doc_id,
         j.mention_idx,
         {u_sql('d.doc_id', 'j.mention_idx')} AS u,
         {v_sql('d.doc_id', 'j.mention_idx')} AS v
  FROM documents d
  JOIN (SELECT unnest(range(0, {M_MOD - 1})) AS mention_idx) j
    ON j.mention_idx < d.doc_id % {M_MOD}
)"""


# ---------------------------------------------------------------------------
# Spark-side builders
# ---------------------------------------------------------------------------

def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def webpages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """webpages(url, warc_ts, html, text, lang) per BASELINE input_hint.

    ``html`` embeds ``text`` in a fixed template; the extraction stage
    recovers it byte-identically (the per-row invariant).  All built from
    native column expressions — no UDFs, stays in whole-stage codegen.
    """
    d = documents(spark, sf_dir)
    full_text = F.expr(fulltext_sql("doc_id", "text", "spark"))
    return d.select(
        F.expr("'https://example-' || CAST(doc_id % 997 AS STRING) || '.org/page/' || CAST(doc_id AS STRING)").alias("url"),
        F.expr(f"timestamp'{FIXED_EPOCH}' + make_interval(0,0,0,0,0,0,doc_id)").alias("warc_ts"),
        F.encode(
            F.concat(
                F.expr("'<html><head><title>p' || CAST(doc_id AS STRING) || '</title></head><body><p>'"),
                full_text,
                F.lit("</p></body></html>"),
            ),
            "utf-8",
        ).alias("html"),
        full_text.alias("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


# ---- geometry sides (driver-side small dims; broadcast in joins) ----------

def _e5(x: int) -> float:
    """Integer 1e-5-degree unit -> degree double via the canonical decimal
    string parse (same as both engines' CAST)."""
    return float(f"{x // 100000}.{x % 100000:05d}") if x >= 0 else -float(
        f"{(-x) // 100000}.{(-x) % 100000:05d}"
    )


def grid_features() -> list[dict]:
    """13x8 clean tiling of the bbox; feature_id = gy*13 + gx."""
    out = []
    for gy in range(GRID_NY):
        for gx in range(GRID_NX):
            x0 = LON0_E5 + gx * GRID_CELL
            y0 = LAT0_E5 + gy * GRID_CELL
            x1, y1 = x0 + GRID_CELL, y0 + GRID_CELL
            ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
            out.append(
                {
                    "feature_id": gy * GRID_NX + gx,
                    "rings": [[( _e5(a), _e5(b)) for a, b in ring]],
                }
            )
    return out


def zone_features() -> list[dict]:
    """24 L-shaped zones (non-convex, gaps between them)."""
    out = []
    for z in range(ZONE_NX * ZONE_NY):
        zx, zy = z % ZONE_NX, z // ZONE_NX
        u0 = ZONE_OX + zx * ZONE_DX
        v0 = ZONE_OY + zy * ZONE_DY
        ax, ay = LON0_E5 + u0, LAT0_E5 + v0
        ring_e5 = [
            (ax, ay),
            (ax + ZONE_W, ay),
            (ax + ZONE_W, ay + ZONE_H - ZONE_QH),
            (ax + ZONE_W - ZONE_QW, ay + ZONE_H - ZONE_QH),
            (ax + ZONE_W - ZONE_QW, ay + ZONE_H),
            (ax, ay + ZONE_H),
            (ax, ay),
        ]
        out.append({"feature_id": z, "rings": [[(_e5(a), _e5(b)) for a, b in ring_e5]]})
    return out


def places() -> list[dict]:
    """60 point features for kNN, in integer e5 offsets (u, v)."""
    au, cu, mu = PLACE_U
    av, cv, mv = PLACE_V
    out = []
    for p in range(N_PLACES):
        pu = (p * au + cu) % mu
        pv = (p * av + cv) % mv
        out.append({"place_id": p, "pu": pu, "pv": pv})
    return out


N_CITIES = 18
CITY_U = (2117, 530)
CITY_V = (1387, 310)


def city_bbox_sql(c: str, dialect: str) -> dict:
    """The city bbox catalogue arithmetic — one definition, two
    renderings.  The engine analogue of the reference's BBBike city
    coordinate catalogue (/root/reference/pydriosm/downloader/
    bbbike.py:171-222: a (city, minx, miny, maxx, maxy) table seeding
    downstream extent computation); here the seeds are deterministic
    integer e5 offsets inside the mention bbox."""
    au, cu = CITY_U
    av, cv = CITY_V
    w = f"(3000 + (({c}) % 4) * 1500)"
    h = f"(2500 + (({c}) % 3) * 1250)"
    u0 = f"((({c}) * {au} + {cu}) % ({BB_W_E5} - {w}))"
    v0 = f"((({c}) * {av} + {cv}) % ({BB_H_E5} - {h}))"
    return {
        "u0": u0,
        "v0": v0,
        "u1": f"({u0} + {w})",
        "v1": f"({v0} + {h})",
    }


def city_bboxes_df(spark: SparkSession) -> DataFrame:
    """(city_id, u0, v0, u1, v1) in integer e5 units (half-open ranges)."""
    cols = city_bbox_sql("id", "spark")
    return spark.range(N_CITIES).select(
        F.col("id").cast("int").alias("city_id"),
        *[F.expr(sql).cast("long").alias(name) for name, sql in cols.items()],
    )


def cities_cte_duckdb() -> str:
    cols = city_bbox_sql("q.c", "duckdb")
    sel = ", ".join(f"CAST({sql} AS BIGINT) AS {name}" for name, sql in cols.items())
    return f"""
cities AS (
  SELECT CAST(q.c AS INT) AS city_id, {sel}
  FROM (SELECT unnest(range(0, {N_CITIES})) AS c) q
)"""


def places_df(spark: SparkSession) -> DataFrame:
    au, cu, mu = PLACE_U
    av, cv, mv = PLACE_V
    return spark.range(N_PLACES).select(
        F.col("id").cast("int").alias("place_id"),
        F.expr(f"(id * {au} + {cu}) % {mu}").cast("long").alias("pu"),
        F.expr(f"(id * {av} + {cv}) % {mv}").cast("long").alias("pv"),
    )


def polygons_df(spark: SparkSession, which: str = "zones") -> DataFrame:
    """Geometry side as a DataFrame of WKT + pre-flattened ring arrays
    (xs, ys, ring_offsets) so the PIP UDF never re-parses WKT per batch."""
    from pydriosm_spark.geometry.wkt import to_wkt

    feats = zone_features() if which == "zones" else grid_features()
    rows = []
    for f in feats:
        rings = [np.array(r, dtype=np.float64) for r in f["rings"]]
        xs = [float(x) for r in rings for x, _ in r]
        ys = [float(y) for r in rings for _, y in r]
        offs = []
        acc = 0
        for r in rings:
            offs.append(acc)
            acc += len(r)
        offs.append(acc)
        rows.append(
            (
                f["feature_id"],
                to_wkt(("Polygon", rings)),
                xs,
                ys,
                offs,
            )
        )
    return local_frame(
        spark, rows, "feature_id int, geometry_wkt string, xs array<double>, ys array<double>, ring_offsets array<int>"
    )
