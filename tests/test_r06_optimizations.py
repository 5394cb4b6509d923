"""Focused tests for the round-6 optimization internals: the vectorized
PBF varint decoder, the vectorized coordinate rounding, and the numpy
brute-force kNN kernel — each must be bit-identical to the scalar / JVM
form it replaced."""

import numpy as np

from pydriosm_spark.sources import pbf


def _encode_varint(u: int) -> bytes:
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode_packed(vals, zigzag=False) -> bytes:
    out = bytearray()
    for v in vals:
        u = (abs(v) * 2 - (1 if v < 0 else 0)) if zigzag else v
        out += _encode_varint(u)
    return bytes(out)


def _scalar_decode(buf, zigzag=False):
    out, i, n = [], 0, len(buf)
    while i < n:
        r = s = 0
        while True:
            b = buf[i]
            i += 1
            r |= (b & 0x7F) << s
            if not b & 0x80:
                break
            s += 7
        out.append(((r >> 1) ^ -(r & 1)) if zigzag else r)
    return out


def test_packed_varints_match_scalar_on_random_streams():
    import random

    rng = random.Random(7)
    for trial in range(300):
        vals = [
            rng.getrandbits(rng.choice([1, 3, 7, 14, 21, 28, 35, 42, 50, 57, 63]))
            for _ in range(rng.randrange(0, 60))
        ]
        buf = _encode_packed(vals)
        # exercise both the scalar (<96 B) and the numpy branch
        assert pbf._packed_varints(buf) == vals
        assert pbf._packed_varints_np(buf).tolist() == _scalar_decode(buf)
        sv = [v if v % 2 == 0 else -v for v in vals]
        zbuf = _encode_packed(sv, zigzag=True)
        assert pbf._packed_varints(zbuf, zigzag=True) == sv
        assert pbf._packed_varints_np(zbuf, zigzag=True).tolist() == _scalar_decode(
            zbuf, zigzag=True
        )


def test_packed_varints_negative_ten_byte_encoding():
    """A plain (non-zigzag) negative int64 protobuf varint is 10 bytes of
    two's complement — the uint64-wraparound reduceat must reproduce it."""
    vals = [-1, -(2**62), 2**63 - 1, 0, 1]
    buf = b"".join(_encode_varint(v & 0xFFFFFFFFFFFFFFFF) for v in vals)
    dec = pbf._packed_varints_np(buf)
    assert dec.tolist() == [np.int64(np.uint64(v & 0xFFFFFFFFFFFFFFFF)).item() for v in vals]
    assert dec.tolist() == [-1, -(2**62), 2**63 - 1, 0, 1]


def test_round7_matches_python_round():
    rng = np.random.default_rng(11)
    # granularity-100 style values (the real PBF case) ...
    raw = rng.integers(-90_000_000, 90_000_000, size=5000)
    d = (raw * 100).astype(np.float64) * 1e-9
    got = pbf._round7(d)
    want = np.array([round(float(x), 7) for x in d])
    assert (got == want).all()
    # ... and adversarial near-half values at the 1e-7 boundary
    half = (raw.astype(np.float64) + 0.5) * 1e-7
    got_h = pbf._round7(half)
    want_h = np.array([round(float(x), 7) for x in half])
    assert (got_h == want_h).all()


def test_round7_guard_band_at_granularity_50_matches_python_round():
    """Granularity 50 puts every odd raw coordinate on an exact 1e-7 half
    (nanodegrees ending in 50), so each DenseNodes coordinate takes
    ``_round7``'s guard band; the decode must still equal per-value
    ``round(x, 7)``, the Node path's scalar rounding."""
    from tests.pbf_encode_util import PbfBuilder, header_blob

    gran = 50
    raws = [(2 * i + 1, -(4 * i + 3)) for i in range(64)]
    raws += [(1_638_479_001 + 2 * i, -5_000_001 - 2 * i) for i in range(64)]
    files = {}
    for dense in (True, False):
        b = PbfBuilder(dense=dense, granularity=gran)
        for nid, (la, lo) in enumerate(raws, 1):
            b.node(nid, la * gran * 1e-9, lo * gran * 1e-9, {"k": "v"})
        files[dense] = pbf.parse_pbf(header_blob() + b.build(), want="n")[0]
    d = np.array([la * gran for la, _ in raws] + [lo * gran for _, lo in raws],
                 dtype=np.float64) * 1e-9
    y = d * 1e7
    assert (np.abs(y - np.floor(y) - 0.5) < 1e-4).all()  # the band is full
    want = [round(float(x), 7) for x in d]
    n = len(raws)
    for nodes in files.values():
        assert [r[0] for r in nodes] == list(range(1, n + 1))
        got = [r[1] for r in nodes] + [r[2] for r in nodes]
        assert [x.hex() for x in got] == [x.hex() for x in want]


def test_parse_pbf_want_selector_is_consistent():
    from tests.pbf_lake import lake_file

    buf = lake_file(0)
    n_all, w_all, r_all = pbf.parse_pbf(buf)
    n_only, w_none, r_none = pbf.parse_pbf(buf, want="n")
    assert n_only == n_all
    assert w_none == [] and r_none == []
    _, w_only, _ = pbf.parse_pbf(buf, want="w")
    assert w_only == w_all


def test_knn_bruteforce_numpy_kernel_matches_jvm_window(spark):
    """broadcast=True (numpy kernel) and broadcast=False (JVM cartesian +
    window) must return identical rows — including (d2, place_id)
    tie-breaks, which the synthetic grid below forces."""
    from pyspark.sql import functions as F

    from pydriosm_spark.operators import knn

    pts = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).alias("mention_idx"),
        ((F.col("id") * 37) % 100).alias("u"),
        ((F.col("id") * 53) % 100).alias("v"),
    )
    # duplicate coordinates across place_ids -> guaranteed d2 ties
    places = spark.range(40).select(
        F.col("id").cast("int").alias("place_id"),
        ((F.col("id") % 10) * 10).cast("long").alias("pu"),
        ((F.col("id") % 4) * 25).cast("long").alias("pv"),
    )
    a = knn.knn_bruteforce(pts, places, k=5, broadcast=True).toPandas()
    b = knn.knn_bruteforce(pts, places, k=5, broadcast=False).toPandas()
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols, ignore_index=True)
    b = b[cols].sort_values(cols, ignore_index=True)
    assert a.equals(b), (a.head(20), b.head(20))
