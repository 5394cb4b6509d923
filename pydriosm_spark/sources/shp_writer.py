"""From-scratch ESRI Shapefile writer (.shp/.shx/.dbf/.prj/.cpg).

The reference's shapefile sink (K1, /root/reference/pydriosm/reader/
parser.py:659-814) writes via pyshp with a dtype->DBF field map
(parser.py:631-639: object->'C', int->'N', float->'F', bool->'L') and a
WGS84 .prj; this module re-implements the same artifact from the public
ESRI whitepaper + dBase III specs, with the identical dtype mapping and
the reference's ``decimal_precision=5`` default for float fields.

Writes happen driver-side over a (small, collected) feature batch — the
sink is for per-region/per-class exports (the reference's use case), not
the 100 TB path (that is parquet).  Round-trip guaranteed against
``sources/shp.py``'s reader in tests.
"""

from __future__ import annotations

import struct

import numpy as np

#: ESRI WKT for EPSG:4326/WGS84 (same content family the reference
#: writes, parser.py:83-102)
WGS84_PRJ = (
    'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,'
    '298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]'
)


def _shape_record(shape_type: int, points: list, parts: list) -> bytes:
    if shape_type == 1:
        x, y = points[0]
        return struct.pack("<i", 1) + struct.pack("<dd", x, y)
    pts = np.asarray(points, dtype=np.float64)
    minx, miny = pts.min(axis=0)
    maxx, maxy = pts.max(axis=0)
    parts = list(parts) if parts else [0]
    if shape_type == 8:
        return (
            struct.pack("<i", 8)
            + struct.pack("<4d", minx, miny, maxx, maxy)
            + struct.pack("<i", len(pts))
            + pts.tobytes()
        )
    return (
        struct.pack("<i", shape_type)
        + struct.pack("<4d", minx, miny, maxx, maxy)
        + struct.pack("<ii", len(parts), len(pts))
        + np.asarray(parts, dtype="<i4").tobytes()
        + pts.tobytes()
    )


def _dbf_field_spec(name: str, values: list, decimal_precision: int) -> tuple:
    """(name, type, length, decimals) from python values — the
    reference's dtype map (parser.py:631-639)."""
    non_null = [v for v in values if v is not None]
    if not non_null:  # a blank N cell reads back as None; a blank C one as ""
        return name, "N", 1, 0
    if all(isinstance(v, bool) for v in non_null):
        return name, "L", 1, 0
    if all(isinstance(v, (int, np.integer)) and not isinstance(v, bool) for v in non_null):
        ln = max(max((len(str(v)) for v in non_null), default=1), 1)
        return name, "N", min(max(ln, 1), 18), 0
    if all(isinstance(v, (float, np.floating, int, np.integer)) for v in non_null):
        return name, "F", 19, decimal_precision
    ln = max(len(str(v).encode("latin-1", "replace")) for v in non_null)
    return name, "C", min(max(ln, 1), 254), 0


def write_shapefile(
    base_path: str,
    shapes: list,
    records: list[dict],
    decimal_precision: int = 5,
) -> None:
    """Write ``<base_path>.shp/.shx/.dbf/.prj/.cpg``.

    ``shapes``: list of (shape_type, points [(x,y)...], parts [int...])
    — the same triple ``sources/shp.parse_shp`` returns.
    ``records``: parallel list of attribute dicts (uniform keys).
    """
    assert len(shapes) == len(records)

    # ---- .shp + .shx -----------------------------------------------------
    recs = []
    for i, (st, pts, parts) in enumerate(shapes):
        content = _shape_record(st, pts, parts)
        header = struct.pack(">ii", i + 1, len(content) // 2)
        recs.append(header + content)

    all_pts = np.array(
        [p for _, pts, _ in shapes for p in pts] or [(0.0, 0.0)], dtype=np.float64
    )
    minx, miny = all_pts.min(axis=0)
    maxx, maxy = all_pts.max(axis=0)
    stype = shapes[0][0] if shapes else 0

    def file_header(total_len_bytes: int) -> bytes:
        return (
            struct.pack(">i", 9994)
            + b"\x00" * 20
            + struct.pack(">i", total_len_bytes // 2)
            + struct.pack("<ii", 1000, stype)
            + struct.pack("<4d", minx, miny, maxx, maxy)
            + struct.pack("<4d", 0, 0, 0, 0)
        )

    shp_len = 100 + sum(len(r) for r in recs)
    with open(base_path + ".shp", "wb") as f:
        f.write(file_header(shp_len))
        for r in recs:
            f.write(r)

    with open(base_path + ".shx", "wb") as f:
        f.write(file_header(100 + 8 * len(recs)))
        off = 100
        for r in recs:
            f.write(struct.pack(">ii", off // 2, (len(r) - 8) // 2))
            off += len(r)

    # ---- .dbf ------------------------------------------------------------
    keys = list(records[0].keys()) if records else []
    specs = [
        _dbf_field_spec(k, [r.get(k) for r in records], decimal_precision) for k in keys
    ]
    rec_size = 1 + sum(ln for _, _, ln, _ in specs)
    hdr_size = 32 + 32 * len(specs) + 1
    with open(base_path + ".dbf", "wb") as f:
        f.write(
            struct.pack(
                "<B3BIHH20x", 0x03, 24, 1, 1, len(records), hdr_size, rec_size
            )
        )
        for name, ftype, ln, dec in specs:
            f.write(
                name.encode("latin-1")[:10].ljust(11, b"\x00")
                + ftype.encode()
                + b"\x00" * 4
                + struct.pack("<BB", ln, dec)
                + b"\x00" * 14
            )
        f.write(b"\x0d")
        for r in records:
            f.write(b" ")
            for name, ftype, ln, dec in specs:
                v = r.get(name)
                if v is None:
                    cell = b" " * ln if ftype != "C" else b" " * ln
                elif ftype == "N":
                    cell = str(int(v)).rjust(ln).encode("latin-1")[:ln]
                elif ftype == "F":
                    cell = f"{float(v):.{dec}f}".rjust(ln).encode("latin-1")[:ln]
                elif ftype == "L":
                    cell = (b"T" if v else b"F")
                else:
                    cell = str(v).encode("latin-1", "replace")[:ln].ljust(ln)
                f.write(cell)
        f.write(b"\x1a")

    with open(base_path + ".prj", "w") as f:
        f.write(WGS84_PRJ)
    with open(base_path + ".cpg", "w") as f:
        f.write("ISO-8859-1")
