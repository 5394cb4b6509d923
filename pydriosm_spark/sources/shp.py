"""From-scratch ESRI Shapefile (.shp) and dBase III (.dbf) binary parsers.

No pyshp/GDAL in this environment, so the shapefile scan operator (S5,
/root/reference/pydriosm/reader/parser.py:472-607 behavior) is backed by
a minimal reader of the public ESRI whitepaper format:

.shp: 100-byte header (file code 9994 BE at 0, shape type LE at 32);
records = 8-byte header (record#, content length in 16-bit words, both
BE) + content (shape type int32 LE, then per-type payload).  Handles
Null(0), Point(1), PolyLine(3), Polygon(5), MultiPoint(8) and their Z/M
variants (XY parsed, Z/M tails ignored) — the same shape-type table the
reference exposes (parser.py:47-73).

.dbf: dBase III header (record count LE at 4, header size LE at 8,
record size LE at 10), 32-byte field descriptors until 0x0D; fixed-width
latin-1 records, first byte = deletion flag.  N/F fields parse to
int/float, L to bool, others to stripped strings — mirroring the dtype
surface the reference's writer enumerates (parser.py:631-639).

numpy ``frombuffer`` for all coordinate arrays — no per-point Python.
"""

from __future__ import annotations

import io
import struct

import numpy as np

SHAPE_TYPE_NAMES = {
    0: "Null",
    1: "Point",
    3: "PolyLine",
    5: "Polygon",
    8: "MultiPoint",
    11: "PointZ",
    13: "PolyLineZ",
    15: "PolygonZ",
    18: "MultiPointZ",
    21: "PointM",
    23: "PolyLineM",
    25: "PolygonM",
    28: "MultiPointM",
}

_POINTISH = {1, 11, 21}
_MULTIPOINTISH = {8, 18, 28}
_PARTED = {3, 5, 13, 15, 23, 25}


def parse_shp_record(content: bytes):
    """One record's content bytes -> (shape_type, points, parts)."""
    (stype,) = struct.unpack("<i", content[0:4])
    if stype == 0:
        return (0, [], [])
    if stype in _POINTISH:
        x, y = struct.unpack("<dd", content[4:20])
        return (stype, [(x, y)], [])
    if stype in _MULTIPOINTISH:
        (npts,) = struct.unpack("<i", content[36:40])
        pts = np.frombuffer(content[40 : 40 + 16 * npts], dtype="<f8").reshape(npts, 2)
        return (stype, [tuple(p) for p in pts], [])
    if stype in _PARTED:
        nparts, npts = struct.unpack("<ii", content[36:44])
        parts = np.frombuffer(content[44 : 44 + 4 * nparts], dtype="<i4")
        p0 = 44 + 4 * nparts
        pts = np.frombuffer(content[p0 : p0 + 16 * npts], dtype="<f8").reshape(npts, 2)
        return (stype, [tuple(p) for p in pts], [int(p) for p in parts])
    raise ValueError(f"unsupported shape type {stype}")


def shp_index(fh) -> list:
    """Walk the record headers of a seekable binary ``.shp`` stream ->
    list of (record_content_offset_bytes, content_bytes): the same map
    :func:`parse_shx` reads from the ``.shx`` sidecar, rebuilt with one
    8-byte read per record when the sidecar is missing."""
    head = fh.read(100)
    if len(head) < 100:
        raise ValueError("not a shapefile: too short")
    (file_code,) = struct.unpack(">i", head[0:4])
    if file_code != 9994:
        raise ValueError(f"not a shapefile: file code {file_code}")
    (file_len_words,) = struct.unpack(">i", head[24:28])
    size = fh.seek(0, 2)
    end = min(size, file_len_words * 2)

    out = []
    off = 100
    while off + 8 <= end:
        fh.seek(off)
        _recno, content_words = struct.unpack(">ii", fh.read(8))
        n = min(content_words * 2, size - off - 8)  # a cut last record keeps its bytes
        if n < 4:
            break
        out.append((off + 8, n))
        off += 8 + content_words * 2
    return out


def parse_shp(buf: bytes):
    """-> list of (shape_type, points [(x, y), ...], parts [int, ...])."""
    return [parse_shp_record(buf[o : o + n]) for o, n in shp_index(io.BytesIO(buf))]


def parse_shx(buf: bytes):
    """.shx index -> list of (record_content_offset_bytes, content_bytes):
    the per-record random-access map that makes a shapefile SPLITTABLE
    (ESRI whitepaper: 100-byte header, then per record a big-endian
    (offset words, content length words) pair; offset points at the
    record HEADER in the .shp, so content starts 8 bytes later)."""
    if len(buf) < 100:
        raise ValueError("not a .shx index: too short")
    (file_code,) = struct.unpack(">i", buf[0:4])
    if file_code != 9994:
        raise ValueError(f"not a .shx index: file code {file_code}")
    n = (len(buf) - 100) // 8
    arr = np.frombuffer(buf[100 : 100 + 8 * n], dtype=">i4").reshape(n, 2)
    return [(int(o) * 2 + 8, int(ln) * 2) for o, ln in arr]


def parse_dbf_header(buf: bytes):
    """-> (fields, n_rec, hdr_size, rec_size): the fixed-width layout
    that makes .dbf records randomly addressable (record i lives at
    ``hdr_size + i * rec_size``) — the striped DataSource reads only the
    header plus its own records."""
    n_rec, hdr_size, rec_size = struct.unpack("<IHH", buf[4:12])
    fields = []
    off = 32
    while off < hdr_size - 1 and buf[off] != 0x0D:
        desc = buf[off : off + 32]
        name = desc[0:11].split(b"\x00", 1)[0].decode("latin-1")
        ftype = chr(desc[11])
        flen = desc[16]
        fdec = desc[17]
        fields.append((name, ftype, flen, fdec))
        off += 32
    return fields, n_rec, hdr_size, rec_size


def parse_dbf_record(rec: bytes, fields) -> dict | None:
    """One fixed-width record -> dict (None for deleted rows)."""
    if rec[0:1] == b"*":
        return None
    row = {}
    p = 1
    for name, ftype, flen, fdec in fields:
        raw = rec[p : p + flen].decode("latin-1").strip()
        p += flen
        if ftype in ("N", "F"):
            if raw == "":
                row[name] = None
            elif ftype == "N" and fdec == 0 and "." not in raw:
                try:
                    row[name] = int(raw)
                except ValueError:
                    row[name] = None
            else:
                try:
                    row[name] = float(raw)
                except ValueError:
                    row[name] = None
        elif ftype == "L":
            row[name] = raw in ("Y", "y", "T", "t") if raw else None
        else:
            row[name] = raw
    return row


def parse_dbf(buf: bytes):
    """-> one slot per record: a dict, or None for a record flagged
    deleted, so index ``i`` is always record ``i`` of the ``.shp``."""
    if len(buf) < 32:
        return []
    fields, n_rec, hdr_size, rec_size = parse_dbf_header(buf)
    recs = (buf[hdr_size + i * rec_size : hdr_size + (i + 1) * rec_size] for i in range(n_rec))
    return [parse_dbf_record(r, fields) for r in recs if len(r) == rec_size]
