"""Reference-parity transforms: GeoJSON -> WKT and hstore tag parsing.

Byte-exact re-implementations (from scratch, over our own WKT writer) of
the reference's transform semantics, including its quirks:

* ``parse_hstore`` — /root/reference/pydriosm/reader/transformer.py:343-378:
  split on ``(?<="),(?=")``, strip outer quotes, split each pair on
  ``"=>"?`` (maxsplit 1), and replace ``<br>`` with a space in values.
* ``point_as_polygon`` — transformer.py:33-78: a degenerate 2-point ring
  ``[p, p]`` is padded to ``[p, p, p]`` so it forms a (degenerate)
  polygon.  Exactness-critical data-cleaning rule.
* ``geojson_to_wkt`` — transformer.py:81-269 semantics:
  - MultiPolygon: after the degenerate-ring fix, **every ring becomes its
    own polygon** (``Polygon(y) for x in coords for y in x``,
    transformer.py:153-155) — holes are NOT holes in the reference's
    output, and we reproduce that faithfully.
  - GeometryCollection members of polygon type flatten all rings into a
    single ring (``Polygon(pt for pts in coords for pt in pts)``,
    transformer.py:255-257).
  - Rings are closed shapely-style (first point appended if open).

The reference maps these per-row in pandas (transformer.py:329-338).
Here each has one batch form that the vectorized UDFs run per Arrow
batch: ``geojson_to_wkt_batch`` parses a batch with one ``json.loads``
and formats all coordinates of a geometry family at once, keeping the
per-row builder only for GeometryCollection; ``parse_hstore_batch``
splits the batch's flattened pair stream with C string ops.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType

from pydriosm_spark.geometry.wkt import to_wkt

_PAIR_SPLIT = re.compile(r'(?<="),(?=")')
_KV_SPLIT = re.compile(r'"=>"?')
_STRIP_QUOTES = re.compile(r'^"|"$')
#: batch variant: same pair-split lookaround, plus the row sentinel as a
#: CAPTURED alternative so re.split keeps row boundaries in its output
_PAIR_SPLIT_SENT = re.compile(r'(?<="),(?=")|(\x00)')


def parse_hstore(other_tags: str | None) -> dict | None:
    """hstore-style ``'"k"=>"v","k2"=>"v2"'`` -> dict (None passthrough)."""
    if not other_tags:
        return other_tags
    tags = [_STRIP_QUOTES.sub("", x) for x in _PAIR_SPLIT.split(other_tags)]
    pairs = (_KV_SPLIT.split(x, maxsplit=1) for x in filter(None, tags))
    return {k: v.replace("<br>", " ") for k, v in (p for p in pairs if len(p) == 2)}


def point_as_polygon(multi_poly_coords: list) -> list:
    coords = [list(x) for x in multi_poly_coords]
    first_ring = list(coords[0][0])
    if len(first_ring) == 2 and first_ring[0] == first_ring[1]:
        coords[0] = [first_ring + [first_ring[0]]] + list(coords[0][1:])
    return coords


def _close_ring(ring: list) -> list:
    """Close a ring shapely-style (append first point if open) and pad
    degenerate rings to the GEOS minimum of 4 points — the padded form is
    what shapely emits for the reference's ``[p, p, p]`` cleaned rings."""
    ring = [tuple(p) for p in ring]
    if ring and ring[0] != ring[-1]:
        ring = ring + [ring[0]]
    while ring and len(ring) < 4:
        ring = ring + [ring[0]]
    return ring


def geojson_to_wkt(geom: dict) -> str:
    """GeoJSON geometry dict -> WKT string with reference semantics."""
    gtype = geom["type"]
    if gtype == "GeometryCollection":
        parts = []
        for g in geom["geometries"]:
            t, c = g["type"], g["coordinates"]
            if "Polygon" in t:
                flat = [pt for pts in c for pt in pts]
                parts.append(("Polygon", [_close_ring(flat)]))
            elif t == "Point":
                parts.append(("Point", (float(c[0]), float(c[1]))))
            else:
                parts.append((t, c))
        return to_wkt(("GeometryCollection", parts))
    coords = geom["coordinates"]
    if gtype == "Point":
        return to_wkt(("Point", (float(coords[0]), float(coords[1]))))
    if gtype == "LineString":
        return to_wkt(("LineString", coords))
    if gtype == "MultiLineString":
        return to_wkt(("MultiLineString", coords))
    if gtype == "Polygon":
        return to_wkt(("Polygon", [_close_ring(r) for r in coords]))
    if gtype == "MultiPolygon":
        cleaned = point_as_polygon(coords)
        polys = [[_close_ring(ring)] for part in cleaned for ring in part]
        return to_wkt(("MultiPolygon", [rings for rings in polys]))
    raise ValueError(f"unsupported GeoJSON type {gtype}")


#: shapefile shape-type codes (reference parser.py:47-73)
SHAPE_TYPE_GEOM = {0: None, 1: "Point", 3: "LineString", 5: "Polygon", 8: "MultiPoint"}


def shape_to_wkt(shape_type: int, coordinates, parts=None) -> str | None:
    """(shape_type, coordinates[, parts]) -> WKT — the engine's analogue
    of the reference's pyshp-row geometry reconstruction
    (parser.py:435-469): Point/MultiPoint direct; PolyLine/Polygon split
    at part offsets into MULTILINESTRING / rings."""
    base = SHAPE_TYPE_GEOM.get(shape_type % 10 if shape_type > 8 else shape_type)
    if base is None:
        return None
    import numpy as np

    pts = [tuple(p) for p in coordinates]
    if base == "Point":
        return to_wkt(("Point", pts[0]))
    if base == "MultiPoint":
        from pydriosm_spark.geometry.wkt import _fmt

        return "MULTIPOINT (" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts) + ")"
    offs = list(parts or [0]) + [len(pts)]
    segs = [np.array(pts[offs[i] : offs[i + 1]]) for i in range(len(offs) - 1) if offs[i + 1] > offs[i]]
    if base == "LineString":
        if len(segs) == 1:
            return to_wkt(("LineString", segs[0]))
        return to_wkt(("MultiLineString", segs))
    return to_wkt(("Polygon", [np.array(_close_ring([tuple(p) for p in s])) for s in segs]))


# ---------------------------------------------------------------------------
# batch GeoJSON -> WKT (the 100 TB layer-conversion hot path)
# ---------------------------------------------------------------------------

import numpy as np


def _fmt_f64_batch(flat: np.ndarray) -> np.ndarray:
    """float64 array -> the exact strings :func:`geometry.wkt._fmt`
    emits, vectorized: numpy's unicode cast IS shortest-repr for float64
    (numpy >= 1.14), and integral values re-render through an int64
    cast.  Returns an OBJECT array — elementwise ``+`` on object string
    arrays is ~8x faster than np.char.add's fixed-width path.
    (Integral values beyond int64 would fall back to the float repr —
    unreachable for WGS84 coordinates.)"""
    out = flat.astype("U32").astype(object)
    ints = (flat == np.floor(flat)) & (np.abs(flat) < 2**63)
    if ints.any():
        out[ints] = flat[ints].astype(np.int64).astype("U21").astype(object)
    return out


def _pair_strs(mat: np.ndarray) -> np.ndarray:
    """(N, 2) float64 -> N object strings ``"x y"`` (vectorized concat)."""
    return _fmt_f64_batch(mat[:, 0]) + " " + _fmt_f64_batch(mat[:, 1])


def _ring_strs(rings: list, gtype: str) -> list:
    """List of per-ring coordinate lists -> per-ring joined coordinate
    strings.  Per-POINT work (float formatting) happens ONCE over the
    whole flattened batch; only the per-ring join is a Python-level loop
    (C ``str.join`` over precomputed pair strings) — the same altitude
    as the reduceat kernels in geometry/ops.py.  Raises ``ValueError``
    naming ``gtype`` unless every position is exactly two numbers (a z
    would otherwise re-pair into the next position's x)."""
    if not rings:
        return []
    counts = np.fromiter((len(r) for r in rings), dtype=np.int64, count=len(rings))
    try:
        flat = np.concatenate([np.asarray(r, dtype=np.float64).reshape(len(r), 2) for r in rings])
    except ValueError:  # ragged positions, or a uniform z
        raise ValueError(f"{gtype} positions must be exactly two numbers") from None
    pairs = _pair_strs(flat)
    offs = np.concatenate(([0], np.cumsum(counts)))
    return [", ".join(pairs[offs[j]:offs[j + 1]]) for j in range(len(rings))]


def geojson_to_wkt_batch(s: pd.Series) -> pd.Series:
    """Batch path for :func:`geojson_to_wkt` over a series of GeoJSON
    strings — identical output, no per-row lambda:

    * ONE ``json.loads`` per batch (the strings wrap into a single JSON
      array, so parsing is one C call);
    * ALL coordinates of each geometry family flatten into one float64
      matrix whose formatting is vectorized (``_fmt_f64_batch``);
    * assembly joins precomputed pair strings per ring / per geometry;
    * only GeometryCollection (the rare other_relations shape) falls
      back to the per-geometry builder — over already-parsed dicts.
    """
    out = np.full(len(s), None, dtype=object)
    mask = s.notna().to_numpy()
    if not mask.any():
        return pd.Series(out, index=s.index)
    vals = s.to_numpy(dtype=object)[mask]
    geoms = json.loads("[" + ",".join(vals) + "]")
    types = np.array([g["type"] for g in geoms], dtype=object)
    res = np.empty(len(geoms), dtype=object)

    idx = np.nonzero(types == "Point")[0]
    if len(idx):
        xy = np.array(
            [geoms[i]["coordinates"][:2] for i in idx], dtype=np.float64
        )
        res[idx] = "POINT (" + _pair_strs(xy) + ")"

    idx = np.nonzero(types == "LineString")[0]
    if len(idx):
        coords = [geoms[i]["coordinates"] for i in idx]
        body = _ring_strs(coords, "LineString")
        res[idx] = [
            "LINESTRING EMPTY" if len(c) == 0 else "LINESTRING (" + b + ")"
            for c, b in zip(coords, body)
        ]

    idx = np.nonzero(types == "MultiLineString")[0]
    if len(idx):
        lines = [geoms[i]["coordinates"] for i in idx]
        nlines = [len(ls) for ls in lines]
        body = _ring_strs([l for ls in lines for l in ls], "MultiLineString")
        offs = np.concatenate(([0], np.cumsum(nlines)))
        res[idx] = [
            "MULTILINESTRING EMPTY" if nlines[j] == 0 else
            "MULTILINESTRING ("
            + ", ".join(f"({b})" for b in body[offs[j]:offs[j + 1]])
            + ")"
            for j in range(len(idx))
        ]

    idx = np.nonzero(types == "Polygon")[0]
    if len(idx):
        rings_per = [[_close_ring(r) for r in geoms[i]["coordinates"]] for i in idx]
        nrings = [len(rs) for rs in rings_per]
        body = _ring_strs([r for rs in rings_per for r in rs], "Polygon")
        offs = np.concatenate(([0], np.cumsum(nrings)))
        res[idx] = [
            "POLYGON EMPTY" if nrings[j] == 0 else
            "POLYGON ("
            + ", ".join(f"({b})" for b in body[offs[j]:offs[j + 1]])
            + ")"
            for j in range(len(idx))
        ]

    idx = np.nonzero(types == "MultiPolygon")[0]
    if len(idx):
        # reference quirk preserved: every ring becomes its own
        # single-ring polygon (holes are NOT holes)
        rings_per = [
            [_close_ring(ring) for part in point_as_polygon(geoms[i]["coordinates"])
             for ring in part]
            for i in idx
        ]
        nrings = [len(rs) for rs in rings_per]
        body = _ring_strs([r for rs in rings_per for r in rs], "MultiPolygon")
        offs = np.concatenate(([0], np.cumsum(nrings)))
        res[idx] = [
            "MULTIPOLYGON ("
            + ", ".join(f"(({b}))" for b in body[offs[j]:offs[j + 1]])
            + ")"
            for j in range(len(idx))
        ]

    done = np.isin(types, ("Point", "LineString", "MultiLineString", "Polygon", "MultiPolygon"))
    for i in np.nonzero(~done)[0]:
        res[i] = geojson_to_wkt(geoms[i])

    out[mask] = res
    return pd.Series(out, index=s.index)


def parse_hstore_batch(s: pd.Series) -> pd.Series:
    """Vectorized :func:`parse_hstore` over a batch (VERDICT r4 item 3
    — ``other_tags`` is on every feature of every layer, the last
    per-row Python map in a hot column path): pair split, outer-quote
    strip, and key/value split all run as pandas C string ops over the
    FLATTENED pair stream; only dict assembly walks rows (a zip over
    precomputed key/value slices).  Quirks preserved byte-for-byte:
    ``(?<="),(?=")`` pair split, one leading + one trailing quote
    stripped, split at the FIRST ``"=>"?`` (greedy optional quote),
    segments without a separator dropped, ``<br>`` -> space in values,
    empty-string input passed through like the scalar path."""
    out = pd.Series(np.full(len(s), None, dtype=object), index=s.index)
    sv = s[s.notna()]
    if not len(sv):
        return out
    empty = sv == ""
    if empty.any():
        out[sv.index[empty]] = ""  # scalar-path falsy passthrough
        sv = sv[~empty]
    if not len(sv):
        return out
    vals = sv.to_numpy(dtype=object)
    big = "\x00".join(vals)
    if big.count("\x00") != len(vals) - 1:
        # a value contains the sentinel byte (never seen in OSM data):
        # fall back to the scalar parser for this batch
        out[sv.index] = [parse_hstore(x) for x in vals]
        return out
    # ONE C-level split over the whole batch: the pair-split lookaround
    # plus a CAPTURED row sentinel (re.split keeps captured separators,
    # so row boundaries come back inline as '\x00' entries; lookaround
    # split points insert None)
    segs = _PAIR_SPLIT_SENT.split(big)
    rows: list = []
    cur: dict = {}
    for seg in segs:
        if seg is None:
            continue
        if seg == "\x00":
            rows.append(cur)
            cur = {}
            continue
        # outer-quote strip (one leading + one trailing, like
        # _STRIP_QUOTES.sub) and first-'"=>"?' split, all C str ops
        if seg.startswith('"'):
            seg = seg[1:]
        if seg.endswith('"'):
            seg = seg[:-1]
        elif seg.endswith('"\n'):
            # the scalar path's '"$' also matches before one trailing \n
            seg = seg[:-2] + "\n"
        i = seg.find('"=>')
        if i < 0:
            continue  # separator-less / empty segment: dropped
        j = i + 3
        if j < len(seg) and seg[j] == '"':
            j += 1  # the greedy optional closing quote of '"=>"?'
        cur[seg[:i]] = seg[j:].replace("<br>", " ")
    rows.append(cur)
    out[sv.index] = rows
    return out


# ---------------------------------------------------------------------------
# vectorized UDFs
# ---------------------------------------------------------------------------

@F.pandas_udf(MapType(StringType(), StringType()))
def hstore_udf(s: pd.Series) -> pd.Series:
    return parse_hstore_batch(s)


@F.pandas_udf(StringType())
def geojson_wkt_udf(s: pd.Series) -> pd.Series:
    return geojson_to_wkt_batch(s)

