"""Minimal OSM PBF *encoder* for crafting test fixtures — independent of
the decoder under test (pure byte assembly from the public format spec:
protobuf wire format + OSM fileformat/osmformat framing).  Lets tests
pin osmconf layer rules (closed_ways_are_polygons, area=yes/no,
old-style multipolygon tag inheritance) on known inputs, which the
Rutland fixture never exercises."""

from __future__ import annotations

import struct
import zlib


def _vi(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _zz(v: int) -> int:
    # zigzag encode for signed varints
    return (v << 1) if v >= 0 else ((-v) << 1) - 1


def _f(fno: int, payload: bytes) -> bytes:  # length-delimited field
    return _vi((fno << 3) | 2) + _vi(len(payload)) + payload


def _fv(fno: int, value: int) -> bytes:  # varint field
    return _vi((fno << 3) | 0) + _vi(value)


def _packed(values: list[int]) -> bytes:
    return b"".join(_vi(v) for v in values)


def _deltas(vals: list[int]) -> list[int]:
    prev, out = 0, []
    for v in vals:
        out.append(_zz(v - prev))
        prev = v
    return out


def _blob(btype: str, block: bytes) -> bytes:
    blob = _fv(2, len(block)) + _f(3, zlib.compress(block))
    header = _f(1, btype.encode()) + _fv(3, len(blob))
    return struct.pack(">i", len(header)) + header + blob


def header_blob() -> bytes:
    """One OSMHeader blob (a HeaderBlock naming its required features),
    the first blob of a well-formed file."""
    return _blob("OSMHeader", _f(4, b"OsmSchema-V0.6") + _f(4, b"DenseNodes"))


class PbfBuilder:
    """Collects nodes/ways/relations, emits one OSMData block file.
    ``dense=True`` packs the nodes as one DenseNodes message (the form
    real extracts use) instead of one Node message each; ``granularity``
    is the block's nanodegrees per raw coordinate unit (OSM's default 100
    is 1e-7 degrees)."""

    def __init__(self, dense: bool = False, granularity: int = 100):
        self.dense = dense
        self.gran = granularity
        self._st = [""]
        self._idx = {"": 0}
        self.nodes = []  # (id, lat, lon, {tags})
        self.ways = []  # (id, [refs], {tags})
        self.rels = []  # (id, [(type, ref, role)], {tags})

    def _s(self, s: str) -> int:
        if s not in self._idx:
            self._idx[s] = len(self._st)
            self._st.append(s)
        return self._idx[s]

    def node(self, nid, lat, lon, tags=None):
        self.nodes.append((nid, lat, lon, tags or {}))
        return self

    def way(self, wid, refs, tags=None):
        self.ways.append((wid, list(refs), tags or {}))
        return self

    def relation(self, rid, members, tags=None):
        self.rels.append((rid, list(members), tags or {}))
        return self

    def _raw(self, deg: float) -> int:
        return round(deg * (1e9 / self.gran))

    def _node_msg(self, nid, lat, lon, tags) -> bytes:
        keys = [self._s(k) for k in tags]
        vals = [self._s(v) for v in tags.values()]
        m = _fv(1, _zz(nid))
        if keys:
            m += _f(2, _packed(keys)) + _f(3, _packed(vals))
        m += _fv(8, _zz(self._raw(lat))) + _fv(9, _zz(self._raw(lon)))
        return m

    def _way_msg(self, wid, refs, tags) -> bytes:
        keys = [self._s(k) for k in tags]
        vals = [self._s(v) for v in tags.values()]
        m = _fv(1, wid)
        if keys:
            m += _f(2, _packed(keys)) + _f(3, _packed(vals))
        m += _f(8, _packed(_deltas(refs)))
        return m

    def _rel_msg(self, rid, members, tags) -> bytes:
        keys = [self._s(k) for k in tags]
        vals = [self._s(v) for v in tags.values()]
        kinds = {"node": 0, "way": 1, "relation": 2}
        roles = [self._s(r) for (_t, _m, r) in members]
        mids = _deltas([m for (_t, m, _r) in members])
        mtypes = [kinds[t] for (t, _m, _r) in members]
        m = _fv(1, rid)
        if keys:
            m += _f(2, _packed(keys)) + _f(3, _packed(vals))
        m += _f(8, _packed(roles)) + _f(9, _packed(mids)) + _f(10, _packed(mtypes))
        return m

    def _dense_msg(self) -> bytes:
        raw = [(nid, self._raw(lat), self._raw(lon)) for nid, lat, lon, _t in self.nodes]
        kv = []
        for _n, _la, _lo, tags in self.nodes:
            for k, v in tags.items():
                kv += [self._s(k), self._s(v)]
            kv.append(0)
        m = b"".join(
            _f(fno, _packed(_deltas([r[i] for r in raw])))
            for fno, i in ((1, 0), (8, 1), (9, 2))
        )
        return m + _f(10, _packed(kv))

    def build(self) -> bytes:
        group = b""
        if self.dense:
            group += _f(2, self._dense_msg()) if self.nodes else b""
        else:
            for n in self.nodes:
                group += _f(1, self._node_msg(*n))
        for w in self.ways:
            group += _f(3, self._way_msg(*w))
        for r in self.rels:
            group += _f(4, self._rel_msg(*r))
        st = b"".join(_f(1, s.encode()) for s in self._st)
        block = _f(1, st) + _f(2, group) + _fv(17, self.gran) + _fv(19, 0) + _fv(20, 0)
        return _blob("OSMData", block)
