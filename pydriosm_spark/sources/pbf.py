"""From-scratch OSM PBF reader: minimal protobuf wire decoder + the OSM
fileformat/osmformat containers + GDAL-style layer assembly for points.

The reference's core scan (S1/S2) delegates PBF decoding to GDAL's OSM
driver (/root/reference/pydriosm/reader/parser.py:1925-1955) and walks
features one Python object at a time (:1638) — the scalability wall.
This module re-implements the same input from the public format specs:

* protobuf wire format: varints, zigzag, length-delimited fields — a
  ~40-line scanner (`_fields`) instead of the protobuf library (absent
  in this environment).
* OSM PBF framing: [int32 BE header size][BlobHeader][Blob], Blob raw or
  zlib; OSMData blobs hold PrimitiveBlocks with a string table,
  DenseNodes (delta-packed ids/lats/lons + key/val index pairs), Ways
  and Relations (packed key/val/ref arrays).
* lat/lon = 1e-9 * (offset + granularity * raw), rounded to the 1e-7
  OSM precision GDAL emits.

Layer assembly implements the GDAL osmconf 'points' contract the
reference inherits: a node becomes a point feature iff it has >= 1
non-ignored tag; the 9 standard attributes become columns and the rest
fold into an hstore-style ``other_tags`` string — byte-compatible with
the reference's golden fixtures (verified in tests/test_pbf.py against
tests/data/rutland/points_1.pkl).

Spark surface — three entry points on one executor-side decoder,
:func:`decode_layer` (one file, or one stripe of its OSMData blobs, read
blob by blob):

* ``spark.read.format("osmpbf")`` (``pbf_datasource``): every layer,
  striped per blob range for ``points``/``primitives``, per file for the
  whole-file layers;
* :func:`read_pbf_layer_stream`: continuous ingest of any layer;
* :func:`relation_layers_distributed`: the whole-file layers assembled
  by joins over the ``primitives`` layer, for files too large to
  assemble on one task.

:func:`pbf_validate` quarantines corrupt files before decode; all four
list files with :func:`list_files`.
"""

from __future__ import annotations

import glob
import json
import os
import struct
import zlib
from itertools import accumulate, islice
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydriosm_spark.session import local_frame

# GDAL osmconf.ini default point attributes (reference golden schema)
POINT_ATTRS = ["name", "barrier", "highway", "ref", "address", "is_in", "place", "man_made"]
#: keys that do NOT make a node significant (GDAL OSM driver hardcoded
#: insignificance list); empirically validated against the reference's
#: golden corpus: 'note'/'fixme' DO confer significance...
SIG_IGNORE = {"created_by", "converted_by", "source", "time", "ele"}
#: ...but are still dropped from other_tags (osmconf.ini 'ignore=' list)
OTHER_TAGS_IGNORE = SIG_IGNORE | {"note", "openGeoDB:", "fixme", "FIXME"}


# ---------------------------------------------------------------------------
# protobuf wire scanner
# ---------------------------------------------------------------------------

def _varint(buf: bytes, i: int) -> tuple[int, int]:
    r = 0
    s = 0
    while True:
        b = buf[i]
        i += 1
        r |= (b & 0x7F) << s
        if not b & 0x80:
            return r, i
        s += 7


def _zz(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _fields(buf: bytes):
    """Yield (field_no, wire_type, value) over a protobuf message.
    value: int for varint/fixed, bytes for length-delimited."""
    i, n = 0, len(buf)
    while i < n:
        tag, i = _varint(buf, i)
        fno, wt = tag >> 3, tag & 7
        if wt == 0:
            v, i = _varint(buf, i)
        elif wt == 2:
            ln, i = _varint(buf, i)
            v = buf[i : i + ln]
            i += ln
        elif wt == 5:
            v = struct.unpack("<I", buf[i : i + 4])[0]
            i += 4
        elif wt == 1:
            v = struct.unpack("<Q", buf[i : i + 8])[0]
            i += 8
        else:
            raise ValueError(f"wire type {wt}")
        yield fno, wt, v


def _packed_varints_np(buf: bytes, zigzag: bool = False) -> np.ndarray:
    """Vectorized packed-varint decode -> int64 ndarray (r6, guide §4.2:
    the per-byte Python loop was the hottest path of the whole PBF
    decoder).  Each byte's 7 payload bits are shifted into place by its
    offset within its varint and summed per group with one reduceat —
    uint64 wraparound matches protobuf's two's-complement semantics for
    10-byte negative varints (max shift is 9*7 = 63, in range)."""
    a = np.frombuffer(buf, dtype=np.uint8)
    n = a.size
    if n == 0:
        return np.empty(0, dtype=np.int64)
    term = (a & 0x80) == 0  # terminator = high bit clear
    is_start = np.empty(n, dtype=bool)
    is_start[0] = True
    is_start[1:] = term[:-1]
    starts = np.flatnonzero(is_start)
    gid = np.cumsum(is_start) - 1
    off = (np.arange(n, dtype=np.int64) - starts[gid]).astype(np.uint64)
    vals = (a & 0x7F).astype(np.uint64) << (np.uint64(7) * off)
    sums = np.add.reduceat(vals, starts)
    if zigzag:
        return ((sums >> np.uint64(1)).astype(np.int64)) ^ (
            -(sums & np.uint64(1)).astype(np.int64)
        )
    return sums.astype(np.int64)


def _packed_varints(buf: bytes, zigzag: bool = False) -> list[int]:
    """list-returning packed-varint decode.  Hybrid dispatch (r6): numpy
    fixed-cost (~15us/call) swamps the win on the tiny per-way/relation
    key/val/ref buffers, so short buffers keep the scalar loop; the big
    block-level buffers (DenseNodes ids/lats/lons/kv) go vectorized."""
    if len(buf) < 96:
        out = []
        i, n = 0, len(buf)
        while i < n:
            v, i = _varint(buf, i)
            out.append(_zz(v) if zigzag else v)
        return out
    return _packed_varints_np(buf, zigzag).tolist()


def _round7(vals: np.ndarray) -> np.ndarray:
    """Vectorized round(x, 7), bit-identical to Python's round(): the
    scaled value's fractional part sits far from .5 everywhere except
    exact-half decimal boundaries (the error of y vs the exact d*1e7 is
    < 1 ulp ~ 2.4e-7 for |d| <= 90), so np.rint + correctly-rounded
    division equals Python's correctly-rounded decimal result away from
    the guard band, and the guard band falls back to Python round, one
    call per value.

    A coordinate is in the band when its nanodegree value
    (offset + granularity * raw) ends in 50.  With offsets that are
    multiples of 100 (zero in practice) the band stays empty whenever the
    granularity is a multiple of 4, the standard 100 included: the value
    mod 100 is then a multiple of 4.  Any other granularity (1, 10, 50,
    ...) can fill it, which brings DenseNodes back to the scalar loop's
    speed, still bit-identical."""
    y = vals * 1e7
    out = np.rint(y) / 1e7
    fr = y - np.floor(y)
    near_half = np.abs(fr - 0.5) < 1e-4
    if near_half.any():
        for i in np.flatnonzero(near_half):
            out[i] = round(float(vals[i]), 7)
    return out


# ---------------------------------------------------------------------------
# OSM PBF framing
# ---------------------------------------------------------------------------

def iter_blocks(buf: bytes):
    """Yield (block_type, decompressed_block_bytes) for each blob."""
    i, n = 0, len(buf)
    while i + 4 <= n:
        (hlen,) = struct.unpack(">i", buf[i : i + 4])
        i += 4
        header = buf[i : i + hlen]
        i += hlen
        btype, dsize = "", 0
        for fno, _wt, v in _fields(header):
            if fno == 1:
                btype = v.decode()
            elif fno == 3:
                dsize = v
        blob = buf[i : i + dsize]
        i += dsize
        raw = None
        for fno, _wt, v in _fields(blob):
            if fno == 1:
                raw = v
            elif fno == 3:
                raw = zlib.decompress(v)
        yield btype, raw


def _parse_stringtable(buf: bytes) -> list[str]:
    return [v.decode("utf-8") for fno, _wt, v in _fields(buf) if fno == 1]


def parse_block(block: bytes, want: str = "nwr"):
    """PrimitiveBlock -> (nodes, ways, relations) lists.

    nodes: (id, lat, lon, {tags}); ways: (id, [refs], {tags});
    relations: (id, [(type, ref, role)], {tags}).

    ``want`` selects which primitive kinds are DECODED ("n"/"w"/"r"
    subset; the other lists come back empty) — the points layer only
    needs nodes, and decoding Rutland's 16k ways + relations it then
    throws away was ~40% of the single-task decode time (r6)."""
    st: list[str] = []
    groups: list[bytes] = []
    gran, lat_off, lon_off = 100, 0, 0
    for fno, _wt, v in _fields(block):
        if fno == 1:
            st = _parse_stringtable(v)
        elif fno == 2:
            groups.append(v)
        elif fno == 17:
            gran = v
        elif fno == 19:
            lat_off = v
        elif fno == 20:
            lon_off = v

    nodes, ways, rels = [], [], []

    def coord(off, g, raw):
        return round(1e-9 * (off + g * raw), 7)

    wn, ww, wr = "n" in want, "w" in want, "r" in want
    for g in groups:
        for fno, _wt, v in _fields(g):
            if (fno in (1, 2) and not wn) or (fno == 3 and not ww) or (
                fno == 4 and not wr
            ):
                continue
            if fno == 2:  # DenseNodes
                ids = lats = lons = None
                kv: list[int] = []
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        ids = np.cumsum(_packed_varints_np(v2, zigzag=True))
                    elif f2 == 8:
                        lats = np.cumsum(_packed_varints_np(v2, zigzag=True))
                    elif f2 == 9:
                        lons = np.cumsum(_packed_varints_np(v2, zigzag=True))
                    elif f2 == 10:
                        kv = _packed_varints(v2)
                tags_per_node: list[dict] = []
                if kv:
                    cur: dict = {}
                    j = 0
                    while j < len(kv):
                        if kv[j] == 0:
                            tags_per_node.append(cur)
                            cur = {}
                            j += 1
                        else:
                            cur[st[kv[j]]] = st[kv[j + 1]]
                            j += 2
                    if cur:
                        tags_per_node.append(cur)
                # vectorized coord math, bit-identical to the scalar
                # coord() (int64 arithmetic is exact below 2^53 before
                # the float64 widening; _round7 matches Python round)
                n_nodes = len(ids)
                lat_d = _round7((lat_off + gran * lats).astype(np.float64) * 1e-9)
                lon_d = _round7((lon_off + gran * lons).astype(np.float64) * 1e-9)
                if len(tags_per_node) < n_nodes:
                    tags_per_node.extend(
                        {} for _ in range(n_nodes - len(tags_per_node))
                    )
                nodes.extend(
                    zip(ids.tolist(), lat_d.tolist(), lon_d.tolist(), tags_per_node)
                )
            elif fno == 1:  # plain Node (rare)
                nid, nlat, nlon, keys, vals = 0, 0, 0, [], []
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        nid = _zz(v2) if isinstance(v2, int) else v2
                    elif f2 == 2:
                        keys = _packed_varints(v2)
                    elif f2 == 3:
                        vals = _packed_varints(v2)
                    elif f2 == 8:
                        nlat = _zz(v2)
                    elif f2 == 9:
                        nlon = _zz(v2)
                nodes.append(
                    (
                        nid,
                        coord(lat_off, gran, nlat),
                        coord(lon_off, gran, nlon),
                        {st[k]: st[w] for k, w in zip(keys, vals)},
                    )
                )
            elif fno == 3:  # Way
                wid, keys, vals, refs = 0, [], [], []
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        keys = _packed_varints(v2)
                    elif f2 == 3:
                        vals = _packed_varints(v2)
                    elif f2 == 8:
                        refs = list(accumulate(_packed_varints(v2, zigzag=True)))
                ways.append((wid, refs, {st[k]: st[w] for k, w in zip(keys, vals)}))
            elif fno == 4:  # Relation
                rid, keys, vals, roles, mids, mtypes = 0, [], [], [], [], []
                for f2, _w2, v2 in _fields(v):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2:
                        keys = _packed_varints(v2)
                    elif f2 == 3:
                        vals = _packed_varints(v2)
                    elif f2 == 8:
                        roles = _packed_varints(v2)
                    elif f2 == 9:
                        mids = list(accumulate(_packed_varints(v2, zigzag=True)))
                    elif f2 == 10:
                        mtypes = _packed_varints(v2)
                members = [
                    (["node", "way", "relation"][t], m, st[r])
                    for t, m, r in zip(mtypes, mids, roles)
                ]
                rels.append((rid, members, {st[k]: st[w] for k, w in zip(keys, vals)}))
    return nodes, ways, rels


def parse_pbf(buf: bytes, want: str = "nwr"):
    """Whole-file parse -> (nodes, ways, relations); ``want`` as in
    :func:`parse_block` (unrequested kinds come back as empty lists)."""
    nodes, ways, rels = [], [], []
    for btype, raw in iter_blocks(buf):
        if btype != "OSMData" or raw is None:
            continue
        n, w, r = parse_block(raw, want)
        nodes.extend(n)
        ways.extend(w)
        rels.extend(r)
    return nodes, ways, rels


# ---------------------------------------------------------------------------
# GDAL-osmconf points layer assembly (reference golden semantics)
# ---------------------------------------------------------------------------

def _hstore_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace('"', '\\"')


def node_to_point_feature(nid: int, lat: float, lon: float, tags: dict) -> dict | None:
    """GDAL 'points' rule: emit iff the node has >= 1 significant tag;
    standard attrs -> columns, remaining non-ignored -> hstore string."""
    if not any(k not in SIG_IGNORE for k in tags):
        return None
    rest = {k: v for k, v in tags.items() if k not in OTHER_TAGS_IGNORE}
    props = {"osm_id": str(nid)}
    for a in POINT_ATTRS:
        props[a] = rest.pop(a, None)
    props["other_tags"] = (
        ",".join(f'"{_hstore_escape(k)}"=>"{_hstore_escape(v)}"' for k, v in rest.items())
        or None
    )
    return {
        "type": "Feature",
        "geometry": {"type": "Point", "coordinates": [lon, lat]},
        "properties": props,
        "id": nid,
    }


#: attribute columns of the other_relations layer (reference fixture
#: schema, transformer.py:296-309 family)
RELATION_ATTRS = ["name", "type"]

#: osmconf default closed_ways_are_polygons key set (GDAL OSM driver)
POLYGON_KEYS = {
    "aeroway", "amenity", "boundary", "building", "craft", "geological",
    "historic", "landuse", "leisure", "military", "natural", "office",
    "place", "shop", "sport", "tourism",
}
LINE_ATTRS = ["name", "highway", "waterway", "aerialway", "barrier", "man_made", "railway"]
MPOLY_ATTRS = ["name", "type", "aeroway", "amenity", "admin_level", "barrier", "boundary",
               "building", "craft", "geological", "historic", "land_area", "landuse",
               "leisure", "man_made", "military", "natural", "office", "place", "shop",
               "sport", "tourism"]
MLS_ATTRS = ["name", "type"]


def _props(id_key: str, id_val: int, tags: dict, attrs: list) -> dict:
    rest = {k: v for k, v in tags.items() if k not in OTHER_TAGS_IGNORE}
    props = {id_key: str(id_val)}
    for a in attrs:
        props[a] = rest.pop(a, None)
    props["other_tags"] = (
        ",".join(f'"{_hstore_escape(k)}"=>"{_hstore_escape(v)}"' for k, v in rest.items())
        or None
    )
    return props


def way_is_polygon(refs: list, tags: dict) -> bool:
    """GDAL closed-ways-are-polygons rule: closed ring + (area=yes or a
    polygon-indicative key) and not area=no."""
    if len(refs) < 4 or refs[0] != refs[-1]:
        return False
    if tags.get("area") == "no":
        return False
    return tags.get("area") == "yes" or bool(POLYGON_KEYS & set(tags))


def line_feature(wid: int, coords: list, tags: dict) -> dict | None:
    """One significant non-polygon way -> LineString feature (or None
    when fewer than two of its nodes are locatable)."""
    if len(coords) < 2:
        return None
    return {
        "type": "Feature",
        "geometry": {"type": "LineString", "coordinates": coords},
        "properties": _props("osm_id", wid, tags, LINE_ATTRS),
        "id": wid,
    }


def assemble_lines(nodes, ways):
    """'lines' layer: significant non-polygon ways -> LineString features."""
    node_pos = {n[0]: (n[2], n[1]) for n in nodes}
    out = []
    for wid, refs, tags in ways:
        if not any(k not in SIG_IGNORE for k in tags):
            continue
        if way_is_polygon(refs, tags):
            continue
        f = line_feature(wid, [list(node_pos[r]) for r in refs if r in node_pos], tags)
        if f is not None:
            out.append(f)
    out.sort(key=lambda f: f["id"])
    return out


def mls_feature(rid: int, tags: dict, member_way_coords: list) -> dict | None:
    """One route/multilinestring relation -> feature (or None).
    ``member_way_coords``: per way member present in the file, its
    locatable-node coords (member order)."""
    lines = [c for c in member_way_coords if len(c) >= 2]
    if not lines:
        return None
    return {
        "type": "Feature",
        "geometry": {"type": "MultiLineString", "coordinates": lines},
        "properties": _props("osm_id", rid, tags, MLS_ATTRS),
        "id": rid,
    }


def assemble_multilinestrings(nodes, ways, rels):
    """'multilinestrings' layer: route/multilinestring relations ->
    MultiLineString over resolvable member ways."""
    node_pos = {n[0]: (n[2], n[1]) for n in nodes}
    way_refs = {w[0]: w[1] for w in ways}
    out = []
    for rid, members, tags in rels:
        if tags.get("type") not in ("route", "multilinestring"):
            continue
        coords = [
            [list(node_pos[r]) for r in way_refs[mid] if r in node_pos]
            for kind, mid, _role in members
            if kind == "way" and mid in way_refs
        ]
        f = mls_feature(rid, tags, coords)
        if f is not None:
            out.append(f)
    out.sort(key=lambda f: f["id"])
    return out


def _stitch_rings(segments: list) -> list:
    """Join way segments end-to-end into closed rings (OSM multipolygon
    assembly).  Unclosable leftovers are dropped."""
    segs = [list(s) for s in segments if len(s) >= 2]
    rings = []
    while segs:
        cur = segs.pop()
        progress = True
        while cur[0] != cur[-1] and progress:
            progress = False
            for i, s in enumerate(segs):
                if s[0] == cur[-1]:
                    cur += s[1:]
                elif s[-1] == cur[-1]:
                    cur += s[-2::-1]
                elif s[-1] == cur[0]:
                    cur = s[:-1] + cur
                elif s[0] == cur[0]:
                    cur = s[::-1][:-1] + cur
                else:
                    continue
                segs.pop(i)
                progress = True
                break
        if len(cur) >= 4 and cur[0] == cur[-1]:
            rings.append(cur)
    return rings


def mpoly_rel_feature(
    rid: int, tags: dict, outer_segs: list, inner_segs: list, outer_way_tags: list
) -> dict | None:
    """One multipolygon/boundary relation -> feature (or None).
    ``outer_segs``/``inner_segs``: member-order way coordinate segments
    (tuples); ``outer_way_tags``: the outer member ways' tag dicts
    (member order) for old-style inheritance."""
    from pydriosm_spark.geometry.ops import points_in_polygon

    outers = _stitch_rings(outer_segs)
    inners = _stitch_rings(inner_segs)
    if not outers:
        return None
    # old-style multipolygon (GDAL OSM driver / osm2pgsql rule): a
    # multipolygon relation carrying no tags beyond 'type' inherits its
    # attributes from the outer ways (member order, first value per key
    # wins).  Inert on the Rutland fixture (0 such relations) — pinned
    # by a crafted-PBF test instead.
    if tags.get("type") == "multipolygon" and not any(
        k != "type" and k not in OTHER_TAGS_IGNORE for k in tags
    ):
        inherited = dict(tags)
        for wt in outer_way_tags:
            for k, v in (wt or {}).items():
                inherited.setdefault(k, v)
        tags = inherited
    polys = []
    for o in outers:
        oarr = np.array(o, dtype=np.float64)
        rings = [[list(p) for p in o]]
        for i in inners:
            px, py = i[0]
            if points_in_polygon(np.array([px]), np.array([py]), [oarr])[0]:
                rings.append([list(p) for p in i])
        polys.append(rings)
    return {
        "type": "Feature",
        "geometry": {"type": "MultiPolygon", "coordinates": polys},
        "properties": _props("osm_id", rid, tags, MPOLY_ATTRS),
        "id": rid,
    }


def mpoly_way_feature(wid: int, coords: list, tags: dict) -> dict | None:
    """One standalone polygon-classified way -> feature (osm_way_id,
    GDAL convention); caller applies ``way_is_polygon`` + significance."""
    if len(coords) < 4:
        return None
    return {
        "type": "Feature",
        "geometry": {"type": "MultiPolygon", "coordinates": [[coords]]},
        "properties": _props("osm_way_id", wid, tags, MPOLY_ATTRS),
        "id": wid,
    }


def other_rel_feature(rid: int, tags: dict, geoms: list) -> dict | None:
    """One generic relation -> GeometryCollection feature (or None).
    ``geoms``: resolvable member geometries in member order."""
    if not geoms:
        return None
    rest = {k: v for k, v in tags.items() if k not in OTHER_TAGS_IGNORE}
    props = {"osm_id": str(rid)}
    for a in RELATION_ATTRS:
        props[a] = rest.pop(a, None)
    props["other_tags"] = (
        ",".join(f'"{_hstore_escape(k)}"=>"{_hstore_escape(v)}"' for k, v in rest.items())
        or None
    )
    return {
        "type": "Feature",
        "geometry": {"type": "GeometryCollection", "geometries": geoms},
        "properties": props,
        "id": rid,
    }


def assemble_multipolygons(nodes, ways, rels):
    """'multipolygons' layer: (a) multipolygon/boundary relations with
    outer/inner ring stitching; (b) standalone closed polygon ways
    (emitted with osm_way_id, GDAL convention)."""
    node_pos = {n[0]: (n[2], n[1]) for n in nodes}
    way_refs = {w[0]: w[1] for w in ways}

    def coords_of(wid):
        return [tuple(node_pos[r]) for r in way_refs[wid] if r in node_pos]

    way_tags = {w[0]: w[2] for w in ways}
    out = []
    for rid, members, tags in rels:
        if tags.get("type") not in ("multipolygon", "boundary"):
            continue
        outer_segs, inner_segs, outer_tags = [], [], []
        for kind, mid, role in members:
            if kind != "way" or mid not in way_refs:
                continue
            if role == "inner":
                inner_segs.append(coords_of(mid))
            else:
                outer_segs.append(coords_of(mid))
                outer_tags.append(way_tags.get(mid, {}))
        f = mpoly_rel_feature(rid, tags, outer_segs, inner_segs, outer_tags)
        if f is not None:
            out.append(f)
    for wid, refs, tags in ways:
        if not way_is_polygon(refs, tags):
            continue
        if not any(k not in SIG_IGNORE for k in tags):
            continue
        f = mpoly_way_feature(wid, [list(node_pos[r]) for r in refs if r in node_pos], tags)
        if f is not None:
            out.append(f)
    out.sort(key=lambda f: (f["id"], "osm_way_id" in f["properties"]))
    return out


def assemble_other_relations(nodes, ways, rels):
    """GDAL 'other_relations' layer (empirically validated against the
    reference golden corpus): relations whose ``type`` tag is not
    multipolygon/boundary/route/multilinestring (those belong to the
    multipolygons and multilinestrings layers) and that have >= 1 member
    resolvable to a node or way present in the file.  Geometry =
    GeometryCollection of the resolvable members in member order (node
    -> Point, way -> LineString over its locatable nodes)."""
    node_pos = {n[0]: (n[2], n[1]) for n in nodes}  # id -> (lon, lat)
    way_refs = {w[0]: w[1] for w in ways}
    out = []
    for rid, members, tags in rels:
        if tags.get("type") in ("multipolygon", "boundary", "route", "multilinestring"):
            continue
        geoms = []
        for kind, mid, _role in members:
            if kind == "node" and mid in node_pos:
                lon, lat = node_pos[mid]
                geoms.append({"type": "Point", "coordinates": [lon, lat]})
            elif kind == "way" and mid in way_refs:
                coords = [list(node_pos[r]) for r in way_refs[mid] if r in node_pos]
                geoms.append({"type": "LineString", "coordinates": coords})
        f = other_rel_feature(rid, tags, geoms)
        if f is not None:
            out.append(f)
    out.sort(key=lambda f: f["id"])
    return out


LAYER_ASSEMBLERS = {
    "points": lambda n, w, r: [
        f for f in (node_to_point_feature(*nd) for nd in n) if f is not None
    ],
    "lines": lambda n, w, r: assemble_lines(n, w),
    "multilinestrings": assemble_multilinestrings,
    "multipolygons": assemble_multipolygons,
    "other_relations": assemble_other_relations,
}


# ---------------------------------------------------------------------------
# executor-side decode: blob ranges -> layer rows
# ---------------------------------------------------------------------------

POINTS_SCHEMA = "id long, lon double, lat double, properties map<string,string>, src_file string"
LAYER_SCHEMA = "id long, geometry string, properties map<string,string>, src_file string"
PRIMITIVE_SCHEMA = (
    "kind string, id long, lat double, lon double, refs array<long>, "
    "mtypes array<string>, mids array<long>, roles array<string>, "
    "tags map<string,string>, src_file string"
)
#: layers whose rows need no cross-blob context: a file splits into stripes
SPLITTABLE = ("points", "primitives")
#: layers assembled from a whole file's primitives (member context)
WHOLE_FILE = ("lines", "multilinestrings", "multipolygons", "other_relations")
#: default per-file bound for the whole-file layers (see decode_layer)
MAX_FILE_BYTES = 1 << 30


def layer_schema(layer: str) -> str:
    """DDL schema of one layer's rows (the osmpbf DataSource's schema)."""
    if layer in SPLITTABLE:
        return POINTS_SCHEMA if layer == "points" else PRIMITIVE_SCHEMA
    if layer in WHOLE_FILE:
        return LAYER_SCHEMA
    raise ValueError(f"unknown layer {layer!r}; expected one of {SPLITTABLE + WHOLE_FILE}")


class TruncatedPbfError(ValueError):
    """A PBF whose blob framing promises bytes past the end of the file."""


def _blob_frames(f, path: str) -> Iterator[tuple]:
    """(start, length, block_type) per blob of the open PBF ``f``: the
    one walk of the blob framing, shared by :func:`index_blobs` and
    :func:`validate_pbf_file`.  Reads only the size prefixes and
    BlobHeaders; each step seeks from its own offset, so a caller may
    read a yielded blob in between.  A cut file (partial size prefix,
    short BlobHeader, payload past EOF) raises :class:`TruncatedPbfError`,
    a header length outside (0, 64 KiB] or a negative payload size
    raises ValueError; both name the file and the blob's byte offset."""
    size = os.fstat(f.fileno()).st_size
    start = 0
    while True:
        f.seek(start)
        hdr = f.read(4)
        if not hdr:
            return
        if len(hdr) < 4:
            raise TruncatedPbfError(f"truncated PBF {path!r}: partial size prefix at byte {start}")
        (hlen,) = struct.unpack(">i", hdr)
        if hlen <= 0 or hlen > 64 * 1024:
            raise ValueError(f"bad PBF framing {path!r}: BlobHeader length {hlen} at byte {start}")
        bh = f.read(hlen)
        if len(bh) < hlen:
            raise TruncatedPbfError(f"truncated PBF {path!r}: short BlobHeader at byte {start}")
        btype, dsize = "", 0
        for fno, _wt, v in _fields(bh):
            if fno == 1:
                btype = v.decode()
            elif fno == 3:
                dsize = v
        if dsize < 0:
            raise ValueError(f"bad PBF framing {path!r}: payload size {dsize} at byte {start}")
        length = 4 + hlen + dsize
        if start + length > size:
            raise TruncatedPbfError(f"truncated PBF {path!r}: blob payload past EOF at byte {start}")
        yield start, length, btype
        start += length


def index_blobs(path: str) -> list:
    """Seek-scan the PBF framing and return (start, length, block_type)
    per blob — ``[start, start+length)`` covers the 4-byte size prefix,
    the BlobHeader, and the Blob payload, so a range reader can hand the
    slice straight to ``iter_blocks``.  Reads only the headers (~KB per
    8 MB blob), never the payloads: this is the blob-offset index job
    that makes a multi-GB PBF parse on N cores (the distributed analogue
    of the reference's >50 MB chunked read, _reader.py:348-353).

    A truncated file raises (:class:`TruncatedPbfError`, a ValueError)
    naming the file and the offset of the cut blob, rather than reading
    as fewer blobs, or none."""
    with open(path, "rb") as f:
        return list(_blob_frames(f, path))


def _local_path(uri: str) -> str:
    """binaryFile emits ``file:`` URIs; open() wants the plain path."""
    if uri.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(uri).path)
    return uri


def list_files(path: str, suffixes) -> list:
    """File/dir/glob (or ``file:`` URI) -> sorted list of plain paths: the
    one listing rule of every read path, ``osmpbf`` (``".pbf"``) and
    ``osmshp`` (``(".shp", ".zip")``) alike.  A single existing file is
    taken whatever its name; a directory (walked recursively) or a glob
    gives the files whose names end in ``suffixes``, so a glob over a
    layer's files skips its sidecars.  Driver-side os listing only — the
    per-blob and per-record work happens on executors."""
    path = _local_path(path)
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        out = []
        for root, _dirs, files in os.walk(path):
            out += [os.path.join(root, f) for f in files if f.endswith(suffixes)]
        return sorted(out)
    return sorted(p for p in glob.glob(path) if os.path.isfile(p) and p.endswith(suffixes))


def _osm_data_blocks(path: str, stripe: int, n_stripes: int) -> Iterator[bytes]:
    """Decompressed OSMData blocks of ``path`` whose index among the
    file's OSMData blobs is ``stripe`` mod ``n_stripes``, read one blob
    at a time (peak raw-byte memory is one blob, never the file)."""
    ranges = [r for r in index_blobs(path) if r[2] == "OSMData"][stripe::n_stripes]
    with open(path, "rb") as fh:
        for start, length, _bt in ranges:
            fh.seek(start)
            for btype, raw in iter_blocks(fh.read(length)):
                if btype == "OSMData" and raw is not None:
                    yield raw


def _geojson(feature: dict) -> str:
    return json.dumps(feature["geometry"], separators=(",", ":"))


def decode_layer(
    path: str,
    layer: str,
    stripe: int = 0,
    n_stripes: int = 1,
    max_file_bytes: int = MAX_FILE_BYTES,
) -> Iterator[tuple]:
    """Rows of ``layer`` (in :func:`layer_schema` order) from one file,
    or from one stripe of it — the single executor-side decode behind
    the osmpbf DataSource, the stream and the distributed assembler.

    Splittable layers stream rows block by block (``points`` decodes
    nodes only).  The whole-file layers accumulate the file's decoded
    primitives and run the single-machine assembler, so a file over
    ``max_file_bytes`` is rejected LOUDLY rather than risking one task's
    memory; :func:`relation_layers_distributed` is the plan for such
    files."""
    if layer in WHOLE_FILE and os.path.getsize(path) > max_file_bytes:
        raise ValueError(
            f"osmpbf: {path!r} is {os.path.getsize(path):,} bytes, over the "
            f"per-file assembly bound of {max_file_bytes:,} for layer {layer!r} — "
            "a whole-file layer assembles one file per task.  Use "
            "pydriosm_spark.sources.pbf.relation_layers_distributed (member-join "
            "plan, no whole-file state on any task) for files this size, or "
            "raise the max_file_bytes option explicitly."
        )
    n, w, r = [], [], []
    for raw in _osm_data_blocks(path, stripe, n_stripes):
        nodes, ways, rels = parse_block(raw, "n" if layer == "points" else "nwr")
        if layer == "points":
            for nid, lat, lon, tags in nodes:
                f = node_to_point_feature(nid, lat, lon, tags)
                if f is not None:
                    yield (nid, lon, lat, f["properties"], path)
        elif layer == "primitives":
            for nid, lat, lon, tags in nodes:
                yield ("node", nid, lat, lon, None, None, None, None, tags, path)
            for wid, refs, tags in ways:
                yield ("way", wid, None, None, refs, None, None, None, tags, path)
            for rid, members, tags in rels:
                mt = [m[0] for m in members]
                mi = [m[1] for m in members]
                ro = [m[2] for m in members]
                yield ("relation", rid, None, None, None, mt, mi, ro, tags, path)
        else:
            n += nodes
            w += ways
            r += rels
    if layer in WHOLE_FILE:
        for f in sorted(LAYER_ASSEMBLERS[layer](n, w, r), key=lambda f: f["id"]):
            yield (f["id"], _geojson(f), f["properties"], path)


# ---------------------------------------------------------------------------
# Spark surface (besides spark.read.format("osmpbf"))
# ---------------------------------------------------------------------------

def read_pbf_layer_stream(spark: SparkSession, path: str, layer: str) -> DataFrame:
    """CONTINUOUS ingest of any osmpbf layer: a Structured Streaming
    file source watches ``path`` (recursively, ``*.pbf`` only — the
    :func:`list_files` rule) and decodes each new file exactly once
    into the DataSource's schema for ``layer`` — the engine's
    replacement for the reference's download-then-import loop (files
    land in storage; the stream picks them up; the checkpoint
    guarantees a dead run resumes without re-processing).  The source
    yields only paths; each task opens its file and decodes it blob by
    blob through :func:`decode_layer`, so stream == batch by the shared
    decoder."""
    schema = layer_schema(layer)
    cols = [c.split(" ")[0] for c in schema.split(", ")]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for uri in b["path"]:
                rows = decode_layer(_local_path(uri), layer)
                while chunk := list(islice(rows, 1 << 16)):
                    yield pd.DataFrame(chunk, columns=cols)

    return (
        spark.readStream.format("binaryFile")
        # streaming file sources require the schema up front; binaryFile's
        # is fixed.  Selecting only ``path`` leaves ``content`` unread.
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", "*.pbf")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path")
        .mapInPandas(decode, schema)
    )


def validate_pbf_file(path: str, deep: bool = False) -> tuple:
    """(valid, reason, n_blobs): framing validation of one PBF file —
    the quarantine check a 100 TB lake runs before committing an extract
    to the ingest frontier (the geo analogue of media_validate).

    Shallow (default): the readers' own framing walk (:func:`index_blobs`'
    rules) — size prefixes, BlobHeader parses, payload extents vs EOF —
    reading only headers.  ``deep=True`` additionally decompresses and
    parses every OSMData block (full read).  Reasons: 'too_short',
    'bad_framing' (header length out of bounds, unparseable header,
    negative size), 'truncated' (the file ends inside a blob: partial
    size prefix, short BlobHeader, payload past EOF), 'no_header' (first
    block is not OSMHeader), 'undecodable_block' (deep only)."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return False, "too_short", 0
    if size < 4:
        return False, "too_short", 0
    n = 0
    first_type = None
    try:
        with open(path, "rb") as f:
            for start, length, btype in _blob_frames(f, path):
                if first_type is None:
                    first_type = btype
                if deep and btype == "OSMData":
                    f.seek(start)
                    try:
                        for _bt, raw in iter_blocks(f.read(length)):
                            if raw is not None:
                                parse_block(raw)
                    except Exception:
                        return False, "undecodable_block", n
                n += 1
    except TruncatedPbfError:
        return False, "truncated", n
    except Exception:
        return False, "bad_framing", n
    if first_type != "OSMHeader":
        return False, "no_header", n
    return True, None, n


def pbf_validate(spark: SparkSession, path: str, deep: bool = False) -> DataFrame:
    """(path, valid, reason, n_blobs) for every .pbf under ``path`` (the
    :func:`list_files` listing) — validation runs ON EXECUTORS, the
    files spread over at most ``defaultParallelism`` tasks (each task
    start costs a Python worker setup, so not one task per file);
    corrupt extracts route to quarantine instead of crashing a 1000-file
    ingest.  An existing directory with no PBFs yet gives 0 rows (a
    landing directory polled between file drops); any other input that
    lists nothing raises, since a glob matching nothing is almost always
    a typo'd pattern."""
    files = list_files(path, ".pbf")
    if not files and not os.path.isdir(_local_path(path)):
        raise FileNotFoundError(f"no PBF files found under {path!r}")
    schema = "path string, valid boolean, reason string, n_blobs long"

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [(p, *validate_pbf_file(p, deep=deep)) for p in b["path"]]
            yield pd.DataFrame(rows, columns=["path", "valid", "reason", "n_blobs"])

    listing = local_frame(spark, [(p,) for p in files], "path string")
    tasks = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    return listing.repartition(tasks).mapInPandas(scan, schema)


def relation_layers_distributed(spark: SparkSession, path: str) -> DataFrame:
    """The four whole-file layers (lines, multilinestrings, multipolygons,
    other_relations) assembled with the plan that scales to one huge
    file: the osmpbf ``primitives`` layer (blob stripes decoded on
    executors) -> way refs and relation members exploded -> equi-joins
    against nodes and resolved ways -> per-way / per-relation regroup ->
    the SAME per-feature builders the single-machine assemblers use
    (line_feature / mls_feature / mpoly_rel_feature / mpoly_way_feature
    / other_rel_feature), so semantics are identical by construction and
    checked feature-for-feature on the test lake.  Joins key on
    (src_file, id): each file assembles against its own primitives, as
    the DataSource's per-file assembly does.

    Returns one DataFrame (layer, id, geometry, properties, src_file);
    filter on ``layer``.  Only per-way / per-relation data ever
    co-locates — no whole-file dict on any single task."""
    from pydriosm_spark.sources.pbf_datasource import OsmPbfDataSource

    spark.dataSource.register(OsmPbfDataSource)
    # persist: prims feeds three branches (ways, nodes, relations); without
    # it each branch re-runs the PBF blob decode (ADVICE r2).  MEMORY_AND_
    # DISK default — primitive rows can exceed executor memory at scale.
    prims = spark.read.format("osmpbf").option("layer", "primitives").load(path).persist()
    nodes = prims.filter(F.col("kind") == "node").select("src_file", "id", "lon", "lat")
    ways = prims.filter(F.col("kind") == "way").select("src_file", "id", "refs", "tags")
    # every way with its locatable-node coordinates in ref order (the
    # shuffle that replaces the single-machine node_pos dict); ways whose
    # refs resolve to nothing keep wpts = null (presence still matters:
    # tag inheritance, empty LineStrings)
    wpts = (
        ways.select("src_file", "id", F.posexplode("refs").alias("pos", "ref"))
        .join(nodes.withColumnRenamed("id", "ref"), ["src_file", "ref"])
        .groupBy("src_file", "id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "lon", "lat"))).alias("wpts"))
    )
    ways_ct = ways.join(wpts, ["src_file", "id"], "left")

    rels = prims.filter(F.col("kind") == "relation").select(
        "src_file", F.col("id").alias("rid"), "tags", "mtypes", "mids", "roles"
    )
    mem = rels.select(
        "src_file",
        "rid",
        "tags",
        F.posexplode(F.arrays_zip("mtypes", "mids", "roles")).alias("pos", "m"),
    ).select(
        "src_file",
        "rid",
        "tags",
        "pos",
        F.col("m.mtypes").alias("mtype"),
        F.col("m.mids").alias("mid"),
        F.col("m.roles").alias("role"),
    ).filter(F.col("mtype") != "relation")  # relation members are ignored everywhere

    mw = mem.filter(F.col("mtype") == "way").join(
        ways_ct.select(
            "src_file",
            F.col("id").alias("mid"),
            F.col("tags").alias("wtags"),
            "wpts",
            F.lit(True).alias("wpresent"),
        ),
        ["src_file", "mid"],
        "left",
    )
    mn = mem.filter(F.col("mtype") == "node").join(
        nodes.select(
            "src_file",
            F.col("id").alias("mid"),
            F.col("lon").alias("nlon"),
            F.col("lat").alias("nlat"),
        ),
        ["src_file", "mid"],
        "left",
    )
    both = mw.unionByName(mn, allowMissingColumns=True)
    grouped = both.groupBy("src_file", "rid").agg(
        F.first("tags").alias("rtags"),
        # sort_array cannot order structs containing a map (wtags);
        # member order is restored in the kernel via the pos field
        F.collect_list(
            F.struct(
                "pos", "mtype", "role", "wpresent", "wpts", "wtags", "nlon", "nlat"
            )
        ).alias("ms"),
    )

    schema = "layer string, id long, geometry string, properties map<string,string>, src_file string"
    cols = ["layer", "id", "geometry", "properties", "src_file"]

    def _coords(wpts) -> list:
        return [[float(p["lon"]), float(p["lat"])] for p in (wpts if wpts is not None else [])]

    def build_rels(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for rid, rtags, src, ms in zip(b["rid"], b["rtags"], b["src_file"], b["ms"]):
                ms = sorted(ms, key=lambda m: m["pos"])
                tags = dict(rtags)
                t = tags.get("type")
                if t in ("route", "multilinestring"):
                    coords = [
                        _coords(m["wpts"])
                        for m in ms
                        if m["mtype"] == "way" and m["wpresent"]
                    ]
                    f, layer = mls_feature(int(rid), tags, coords), "multilinestrings"
                elif t in ("multipolygon", "boundary"):
                    outer_segs, inner_segs, outer_tags = [], [], []
                    for m in ms:
                        if m["mtype"] != "way" or not m["wpresent"]:
                            continue
                        seg = [tuple(p) for p in _coords(m["wpts"])]
                        if m["role"] == "inner":
                            inner_segs.append(seg)
                        else:
                            outer_segs.append(seg)
                            outer_tags.append(dict(m["wtags"] or {}))
                    f = mpoly_rel_feature(int(rid), tags, outer_segs, inner_segs, outer_tags)
                    layer = "multipolygons"
                else:
                    geoms = []
                    for m in ms:
                        if m["mtype"] == "node" and m["nlon"] is not None:
                            geoms.append(
                                {"type": "Point", "coordinates": [float(m["nlon"]), float(m["nlat"])]}
                            )
                        elif m["mtype"] == "way" and m["wpresent"]:
                            geoms.append(
                                {"type": "LineString", "coordinates": _coords(m["wpts"])}
                            )
                    f, layer = other_rel_feature(int(rid), tags, geoms), "other_relations"
                if f is not None:
                    rows.append((layer, f["id"], _geojson(f), f["properties"], src))
            yield pd.DataFrame(rows, columns=cols)

    def build_ways(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for wid, refs, tags, wpts, src in zip(
                b["id"], b["refs"], b["tags"], b["wpts"], b["src_file"]
            ):
                tags = dict(tags)
                if not any(k not in SIG_IGNORE for k in tags):
                    continue
                if way_is_polygon(list(refs), tags):
                    f, layer = mpoly_way_feature(int(wid), _coords(wpts), tags), "multipolygons"
                else:
                    f, layer = line_feature(int(wid), _coords(wpts), tags), "lines"
                if f is not None:
                    rows.append((layer, f["id"], _geojson(f), f["properties"], src))
            yield pd.DataFrame(rows, columns=cols)

    out = grouped.mapInPandas(build_rels, schema).unionByName(
        ways_ct.mapInPandas(build_ways, schema)
    )
    # The cached primitive rows must not stay pinned for the application
    # lifetime (ADVICE r3).  The result is lazy, so the unpersist is the
    # caller's to trigger once the layers are materialized:
    # ``df.release_primitives()``.
    out.release_primitives = lambda blocking=False: prims.unpersist(blocking)
    return out
