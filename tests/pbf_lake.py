"""A deterministic two-file PBF lake for the read-path tests, built with
the independent encoder in ``pbf_encode_util``.

Each file is one OSMHeader blob followed by five OSMData blobs:

1-2. DenseNodes on a 60x100 grid: every even node is a point (some with
     an hstore-escaped value), a few odd nodes carry only a ``note``,
     every fifth odd node only an insignificant ``created_by`` tag, the
     rest are untagged;
3.   600 open highways and 600 closed buildings over the grid — every
     way's nodes sit in an earlier blob;
4.   crafted ways: a closed ``area=no`` way, ways with some or all refs
     unresolvable, an untagged way, a building whose ring loses a node,
     the two open outer segments and the closed inner ring of a
     multipolygon, and route members;
5.   relations over the ways of blobs 3-4: a multipolygon whose outer
     ring must be stitched from two segments around an inner ring, the
     same with a reversed segment and old-style (outer-way) tags, one
     that cannot close because its second segment is missing, a
     boundary, routes with unresolvable members, a restriction, and
     generic relations whose members are unresolvable or relations.

Ids are disjoint between the files (file ``f`` adds ``(f + 1) * 10**6``),
so every layer of the lake is the union of its files' layers.
"""

from __future__ import annotations

import json
import os

from tests.pbf_encode_util import PbfBuilder, header_blob

LAKE_FILES = ("a.osm.pbf", "b.osm.pbf")
ROWS, COLS = 60, 100
AMENITIES = ("cafe", "school", "pub", "bank", "pharmacy")
HIGHWAYS = ("residential", "primary", "footway", "service")


def _node_tags(i: int, f: int) -> dict | None:
    if i % 2 == 0:
        if i % 40 == 0:  # an other_tags value that needs hstore escaping
            return {"amenity": "bench", "name": f"n{i}", "description": f'say "hi" \\ {f}'}
        if i % 4 == 0:
            return {"amenity": AMENITIES[i % 5], "name": f"n{i}"}
        return {"shop": "kiosk", "created_by": "gen", "opening_hours": "24/7"}
    if i % 50 == 3:
        return {"note": "check"}  # 'note' makes a point but is not kept
    if i % 10 == 1:
        return {"created_by": "gen"}  # insignificant: no point
    return None


def lake_file(f: int) -> bytes:
    base = (f + 1) * 1_000_000

    def n(row: int, col: int) -> int:  # grid node id
        return base + row * COLS + col + 1

    missing = base + 999_000
    parts = [header_blob()]
    half = ROWS * COLS // 2
    for lo, hi in ((0, half), (half, ROWS * COLS)):
        b = PbfBuilder(dense=True)
        for i in range(lo, hi):
            r, c = divmod(i, COLS)
            b.node(base + i + 1, 52.5 + 0.001 * r, -0.7 + 0.001 * c + 0.0001 * f,
                   _node_tags(i, f))
        parts.append(b.build())

    b = PbfBuilder()
    for k in range(1200):
        r, c = divmod((7 * k) % ((ROWS - 1) * (COLS - 4)), COLS - 4)
        if k % 2:
            b.way(base + k + 1, [n(r, c), n(r, c + 1), n(r + 1, c + 1), n(r + 1, c), n(r, c)],
                  {"building": "yes"})
        else:
            b.way(base + k + 1, [n(r, c + j) for j in range(4)],
                  {"highway": HIGHWAYS[k % 4], "name": f"w{k}"})
    parts.append(b.build())

    w = base + 5000  # crafted way ids
    b = PbfBuilder()
    b.way(w + 1, [n(2, 2), n(2, 3), n(3, 3), n(3, 2), n(2, 2)],
          {"highway": "pedestrian", "area": "no"})
    b.way(w + 2, [n(4, 1), missing + 1, n(4, 2), n(4, 3)], {"highway": "track"})
    b.way(w + 3, [missing + 2, missing + 3], {"highway": "path"})
    b.way(w + 4, [n(5, 1), n(5, 2)])
    b.way(w + 5, [n(6, 1), n(6, 2), missing + 4, n(7, 1), n(6, 1)], {"building": "shed"})
    b.way(w + 10, [n(10, 10), n(10, 20), n(20, 20)])  # outer segment 1
    b.way(w + 11, [n(20, 20), n(20, 10), n(10, 10)])  # outer segment 2
    b.way(w + 12, [n(13, 13), n(13, 16), n(16, 16), n(16, 13), n(13, 13)])  # inner
    b.way(w + 20, [n(30, 10), n(30, 20), n(40, 20)], {"natural": "water"})
    b.way(w + 21, [n(30, 10), n(40, 10), n(40, 20)])  # runs against segment 1
    b.way(w + 30, [n(50, 1), n(50, 2), n(50, 3)], {"highway": "primary"})
    b.way(w + 31, [n(50, 3), n(51, 3)], {"highway": "primary"})
    parts.append(b.build())

    rid = base + 9000
    b = PbfBuilder()
    b.relation(rid + 1, [("way", w + 10, "outer"), ("way", w + 11, "outer"),
                         ("way", w + 12, "inner")],
               {"type": "multipolygon", "landuse": "forest", "name": "wood"})
    b.relation(rid + 2, [("way", w + 20, "outer"), ("way", w + 21, "outer")],
               {"type": "multipolygon"})
    b.relation(rid + 3, [("way", w + 10, "outer"), ("way", missing + 10, "outer")],
               {"type": "multipolygon", "landuse": "meadow"})
    b.relation(rid + 4, [("way", base + 2, "outer")],
               {"type": "boundary", "boundary": "administrative", "admin_level": "8"})
    for j in range(3):
        b.relation(rid + 10 + j, [("way", w + 30, ""), ("way", w + 31, ""),
                                  ("way", missing + 20 + j, "")],
                   {"type": "route", "route": ("bus", "bicycle", "hiking")[j],
                    "name": f"route {j}"})
    b.relation(rid + 13, [("way", w + 3, ""), ("way", w + 2, "")], {"type": "multilinestring"})
    b.relation(rid + 14, [("way", missing + 30, "")], {"type": "route", "route": "bus"})
    b.relation(rid + 20, [("way", w + 30, "from"), ("node", n(50, 3), "via"),
                          ("way", w + 31, "to")],
               {"type": "restriction", "restriction": "no_left_turn"})
    b.relation(rid + 21, [("node", missing + 40, "label"), ("relation", rid + 1, ""),
                          ("way", w + 3, "")], {"type": "site", "name": "spot"})
    b.relation(rid + 22, [("relation", rid + 1, ""), ("node", missing + 41, "")],
               {"type": "collection"})
    b.relation(rid + 23, [("node", n(0, 0), "")], {"name": "untyped"})
    parts.append(b.build())
    return b"".join(parts)


def write_lake(d) -> str:
    """Write the lake's files into directory ``d``; returns ``d``."""
    os.makedirs(d, exist_ok=True)
    for f, name in enumerate(LAKE_FILES):
        with open(os.path.join(d, name), "wb") as fh:
            fh.write(lake_file(f))
    return str(d)


def reference(lake: str, layer: str, names=LAKE_FILES) -> dict:
    """The single-machine assemblers' ``layer`` over the lake's files,
    keyed as :func:`keyed` keys Spark rows — the reference every Spark
    read path is compared against."""
    from pydriosm_spark.sources import pbf

    out = {}
    for name in names:
        with open(os.path.join(lake, name), "rb") as fh:
            n, w, r = pbf.parse_pbf(fh.read())
        for f in pbf.LAYER_ASSEMBLERS[layer](n, w, r):
            geom = (
                tuple(f["geometry"]["coordinates"]) if layer == "points"
                else json.dumps(f["geometry"], separators=(",", ":"))
            )
            out[(name, f["id"], "osm_way_id" in f["properties"])] = (geom, f["properties"])
    return out


def keyed(rows, layer: str) -> dict:
    """Spark rows of ``layer`` as {(file name, id, is_way): (geometry,
    properties)}; a duplicate key fails."""
    out = {}
    for r in rows:
        props = dict(r["properties"])
        geom = (r["lon"], r["lat"]) if layer == "points" else r["geometry"]
        key = (os.path.basename(r["src_file"]), int(r["id"]), "osm_way_id" in props)
        assert key not in out, key
        out[key] = (geom, props)
    return out
