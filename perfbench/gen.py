"""Seeded input generator and DuckDB expectations for the three workloads.

Everything here runs before the Spark JVM starts: inputs are written with
pyarrow, and the expected output summary of each workload (row count plus
an order-independent content hash, see :func:`hash_sql`) is computed by
DuckDB from the generated tables with the query registry's oracle SQL.
The library under test never sees anything but the generated tables.

Generated inputs are cached under ``<checkout>/.bench_build/perfbench``,
keyed by workload, seed and a digest of this file plus the oracle modules,
so a changed generator or oracle never reuses a stale cache entry.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: geo_enrich: doc ids repeat their mention geometry with this period —
#: m = i % 4, u = f(i % 3899), v = g(i % 2399) in sources/synth.py — so a
#: replica shifted by a multiple of it has identical mentions
GEO_PERIOD = 4 * 3899 * 2399
GEO_BASE_DOCS = 2048
GEO_REPLICAS = 16  # 32,768 web pages
GEO_TOWNS = 200  # knn_auto -> broadcast numpy kernel (<= 4096 places)
GEO_POIS = 6000  # knn_auto -> knn_cell (> 4096 places); traced run only

DEDUP_DOCS = 2000
DEDUP_NEAR_SHARE = 0.25  # share of documents that are edited copies of another
DEDUP_EDITS = 3  # tokens replaced in a near-duplicate
DEDUP_BOILERPLATE = (80, 96, 112)  # identical-doc clusters, all > max_bucket=64
DEDUP_TOKENS = 48
EMB_ROWS = 800
EMB_DIM = 64

PBF_FILES = 1
PBF_BLOBS = 2  # OSMData blobs per file
PBF_NODES_PER_BLOB = 4000
PBF_POI_SHARE = 0.25  # share of nodes carrying an amenity tag (points layer)
PBF_WAY_LEN = 6
PBF_BUILDING_SHARE = 0.3  # share of ways that are closed buildings

#: content-hash modulus (2^31 - 1): every intermediate stays < 2^52, so the
#: same SQL text is exact in Spark's ANSI long arithmetic and in DuckDB
HASH_P = 2_147_483_647
HASH_A = 1_000_003

_VOCAB = np.array([f"w{k}" for k in range(6000)])


def hash_sql(cols: list[str]) -> str:
    """Per-row hash of non-negative integer columns, valid Spark and DuckDB SQL."""
    h = "0"
    for c in cols:
        h = f"((({h}) * {HASH_A} + (({c}) % {HASH_P})) % {HASH_P})"
    return h


def summary_sql(table: str, cols: list[str], extra: str = "0") -> str:
    """count, summed row hash and one extra summed expression over ``table``."""
    return (
        f"SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum({hash_sql(cols)}) AS BIGINT) AS h, "
        f"CAST(sum({extra}) AS BIGINT) AS x FROM {table}"
    )


def _digest() -> str:
    """Identity of the generator and of the oracle sources it runs."""
    h = hashlib.sha256()
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    for p in (
        os.path.join(here, "gen.py"),
        os.path.join(root, "pydriosm_spark", "queries.py"),
        os.path.join(root, "pydriosm_spark", "queries_text.py"),
        os.path.join(root, "pydriosm_spark", "sources", "synth.py"),
        os.path.join(root, "tests", "pbf_encode_util.py"),
    ):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


#: files per generated table: a table of many files, so the scan is parallel
#: (Spark packs small files into one split, and a single file is one task)
TABLE_FILES = 8


def _write(table: pa.Table, path: str, files: int = TABLE_FILES) -> None:
    """zstd parquet directory of ``files`` contiguous slices of ``table``."""
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"),
                       compression="zstd")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _texts(rng: np.random.Generator, n: int, tokens: int) -> np.ndarray:
    """(n, tokens) Zipf-distributed vocabulary indices, one row per document."""
    return np.minimum(rng.zipf(1.3, size=(n, tokens)) - 1, len(_VOCAB) - 1)


def _join(rows: np.ndarray) -> list[str]:
    """Whitespace-joined document texts of index rows."""
    return [" ".join(_VOCAB[r]) for r in rows]


def _duck():
    import duckdb

    return duckdb.connect(config={"threads": str(len(os.sched_getaffinity(0)))})


# ---------------------------------------------------------------------------
# geo_enrich
# ---------------------------------------------------------------------------


def _places(rng: np.random.Generator, n: int) -> pa.Table:
    from pydriosm_spark.sources import synth

    return pa.table(
        {
            "place_id": pa.array(np.arange(n, dtype=np.int32)),
            "pu": pa.array(rng.integers(0, synth.BB_W_E5, n, dtype=np.int64)),
            "pv": pa.array(rng.integers(0, synth.BB_H_E5, n, dtype=np.int64)),
        }
    )


def _knn1_sql(places: str) -> str:
    """Nearest place per mention, ties to the smaller place_id: the registry's
    ``oracle_knn`` arithmetic over a generated place table, as one min over
    the packed key d2 * 2^16 + place_id (place ids are < 2^16)."""
    return f"""
SELECT doc_id, mention_idx, key // 65536 AS d2, key % 65536 AS place_id FROM (
  SELECT m.doc_id, CAST(m.mention_idx AS BIGINT) AS mention_idx,
         min(((m.u - p.pu) * (m.u - p.pu) + (m.v - p.pv) * (m.v - p.pv)) * 65536
             + p.place_id) AS key
  FROM mentions m CROSS JOIN {places} p
  GROUP BY ALL
)"""


GEO_COLS = ["doc_id % {P}", "mention_idx", "tile_parent", "feature_id", "town_id", "town_d2"]


POI_COLS = ["doc_id % {P}", "mention_idx", "place_id", "d2"]


def geo_cols() -> list[str]:
    return [c.format(P=GEO_PERIOD) for c in GEO_COLS]


def poi_cols() -> list[str]:
    return [c.format(P=GEO_PERIOD) for c in POI_COLS]


def _gen_geo(seed: int, out: str) -> dict:
    from pydriosm_spark import queries as Q
    from pydriosm_spark.sources import synth

    rng = np.random.default_rng([seed, 1])
    base = np.sort(rng.choice(GEO_PERIOD, GEO_BASE_DOCS, replace=False)).astype(np.int64)
    texts = _join(_texts(rng, GEO_BASE_DOCS, 24))
    docs = pa.table({"doc_id": base, "text": texts})
    towns = _places(rng, GEO_TOWNS)
    pois = _places(rng, GEO_POIS)
    _write(towns, os.path.join(out, "towns.parquet"), files=1)
    _write(pois, os.path.join(out, "pois.parquet"), files=1)

    con = _duck()
    con.register("documents", docs)
    con.register("towns_t", towns)
    con.register("pois_t", pois)
    # the page body: text plus 0..3 geo tokens, rendered by the registry's
    # DuckDB arithmetic (the engine side parses them back out of the html)
    full = con.execute(
        f"SELECT doc_id, {synth.fulltext_sql('doc_id', 'text', 'duckdb')} AS t "
        "FROM documents ORDER BY doc_id"
    ).fetchall()
    html = [f"<html><head><title>page</title></head><body><p>{t}</p></body></html>" for _, t in full]

    mentions = synth.mentions_cte_duckdb().strip()
    expect_sql = f"""
WITH {mentions},
zj AS ({Q.oracle_zone_join()}),
tl AS ({Q.oracle_tiles()}),
town AS ({_knn1_sql('towns_t')}),
res AS (
  SELECT zj.doc_id, zj.mention_idx, tl.tile_parent, zj.feature_id,
         CAST(town.place_id AS BIGINT) AS town_id, CAST(town.d2 AS BIGINT) AS town_d2
  FROM zj JOIN tl USING (doc_id, mention_idx) JOIN town USING (doc_id, mention_idx)
)
SELECT * FROM res"""
    con.execute(f"CREATE TEMP TABLE res AS {expect_sql}")
    n, h, _ = con.execute(summary_sql("res", geo_cols())).fetchone()
    # the nearest POI of every zone-joined mention (the traced knn_cell call)
    con.execute(f"""CREATE TEMP TABLE poi AS
WITH {mentions}, zj AS ({Q.oracle_zone_join()}), p AS ({_knn1_sql('pois_t')})
SELECT doc_id, mention_idx, CAST(place_id AS BIGINT) AS place_id, CAST(d2 AS BIGINT) AS d2
FROM zj JOIN p USING (doc_id, mention_idx)""")
    pn, ph, _ = con.execute(summary_sql("poi", poi_cols())).fetchone()
    n_mentions = con.execute(
        f"WITH {mentions} SELECT count(*) FROM mentions"
    ).fetchone()[0]
    con.close()

    # replicate: replica r shifts every doc id by r * GEO_PERIOD
    R = GEO_REPLICAS
    ids = (base[None, :] + np.arange(R, dtype=np.int64)[:, None] * GEO_PERIOD).ravel()
    url = [f"https://example-{i % 997}.org/page/{i}" for i in ids.tolist()]
    html_col = pa.array(html, pa.binary()).take(pa.array(np.tile(np.arange(GEO_BASE_DOCS), R)))
    pages = os.path.join(out, "webpages.parquet")
    _write(pa.table({"url": url, "html": html_col}), pages)

    def scaled(n: int, h: int) -> dict:
        # x: sum over rows of doc_id DIV GEO_PERIOD, i.e. of the replica index
        return {"n": int(n) * R, "h": int(h) * R, "x": int(n) * R * (R - 1) // 2}

    return {
        "rows": int(len(ids)),
        "mentions": int(n_mentions) * R,
        "input_bytes": dir_bytes(pages),
        "expect": scaled(n, h),
        "expect_poi": scaled(pn, ph),
    }


# ---------------------------------------------------------------------------
# text_dedup
# ---------------------------------------------------------------------------


def _gen_dedup(seed: int, out: str) -> dict:
    from pydriosm_spark import queries_text as QT

    rng = np.random.default_rng([seed, 2])
    n = DEDUP_DOCS
    toks = _texts(rng, n, DEDUP_TOKENS)
    # near-duplicates: an edited copy of an earlier document
    near = np.flatnonzero(rng.random(n) < DEDUP_NEAR_SHARE)
    near = near[near > 0]
    src = (rng.random(near.size) * near).astype(np.int64)
    toks[near] = toks[src]
    pos = rng.integers(0, DEDUP_TOKENS, size=(near.size, DEDUP_EDITS))
    toks[near[:, None], pos] = rng.integers(0, len(_VOCAB), size=pos.shape)
    # boilerplate clusters: identical documents, buckets above max_bucket
    for size in DEDUP_BOILERPLATE:
        idx = rng.choice(n, size, replace=False)
        toks[idx] = toks[idx[0]]
    ids = np.sort(rng.choice(1 << 40, n, replace=False)).astype(np.int64)
    docs = pa.table({"doc_id": ids, "text": _join(toks)})
    _write(docs, os.path.join(out, "documents.parquet"))

    m = EMB_ROWS
    emb = rng.standard_normal((m, EMB_DIM)).astype(np.float32)
    dup = np.flatnonzero(rng.random(m) < 0.2)
    dup = dup[dup > 0]
    emb[dup] = emb[(rng.random(dup.size) * dup).astype(np.int64)] + 0.05 * rng.standard_normal(
        (dup.size, EMB_DIM)
    ).astype(np.float32)
    vec_ids = np.sort(rng.choice(1 << 40, m, replace=False)).astype(np.int64)
    embeddings = pa.table(
        {
            "vec_id": vec_ids,
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        }
    )
    _write(embeddings, os.path.join(out, "embeddings.parquet"))

    con = _duck()
    con.register("documents", docs)
    con.register("embeddings", embeddings)
    expect = {}
    for name, sql, cols in (
        ("minhash", QT.oracle_minhash_pairs(), MINHASH_COLS),
        ("simhash", QT.oracle_simhash_pairs(), SIMHASH_COLS),
        ("cosine", QT.oracle_cosine_topk(), COSINE_COLS),
    ):
        con.execute(f"CREATE TEMP TABLE o_{name} AS {sql}")
        if name == "minhash":
            con.execute('ALTER TABLE o_minhash RENAME COLUMN "union" TO uni')
        n_, h, _ = con.execute(summary_sql(f"o_{name}", cols)).fetchone()
        expect[name] = {"n": int(n_), "h": int(h or 0), "x": 0}
    con.close()
    return {"rows": n, "embeddings": m, "expect": expect}


#: the pair table's ``union`` column is read as ``uni`` on both sides
MINHASH_COLS = ["id_a", "id_b", "inter", "uni", "jaccard_e6"]
SIMHASH_COLS = ["id_a", "id_b", "hamming"]
COSINE_COLS = ["vec_id", "rank", "neighbor_id"]


# ---------------------------------------------------------------------------
# pbf_ingest
# ---------------------------------------------------------------------------

AMENITIES = ("cafe", "school", "pub", "bank", "pharmacy")
HIGHWAYS = ("residential", "primary", "footway", "service")


def _gen_pbf(seed: int, out: str) -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tests"))
    try:
        from pbf_encode_util import PbfBuilder
    finally:
        sys.path.remove(os.path.join(root, "tests"))

    rng = np.random.default_rng([seed, 3])
    pdir = os.path.join(out, "pbf")
    os.makedirs(pdir)
    truth = {"points": [], "lines": [], "multipolygons": []}
    nid = wid = 1
    for f in range(PBF_FILES):
        parts = []
        for _ in range(PBF_BLOBS):
            b = PbfBuilder()
            n = PBF_NODES_PER_BLOB
            lat = 52.52 + rng.random(n) * 0.24
            lon = -0.82 + rng.random(n) * 0.39
            poi = rng.random(n) < PBF_POI_SHARE
            kinds = rng.integers(0, len(AMENITIES), n)
            ids = range(nid, nid + n)
            for i, k in enumerate(ids):
                tags = {"amenity": AMENITIES[kinds[i]], "name": f"n{k}"} if poi[i] else None
                b.node(k, round(float(lat[i]), 7), round(float(lon[i]), 7), tags)
                if poi[i]:
                    truth["points"].append(k)
            # ways over this blob's untagged nodes: open highways and
            # closed buildings (first ref repeated)
            free = np.array([k for i, k in enumerate(ids) if not poi[i]], dtype=np.int64)
            L = PBF_WAY_LEN
            for s in range(0, free.size - L, L):
                refs = free[s : s + L].tolist()
                if rng.random() < PBF_BUILDING_SHARE:
                    b.way(wid, refs + [refs[0]], {"building": "yes"})
                    truth["multipolygons"].append(wid)
                else:
                    b.way(wid, refs, {"highway": HIGHWAYS[int(rng.integers(len(HIGHWAYS)))]})
                    truth["lines"].append(wid)
                wid += 1
            nid += n
            parts.append(b.build())
        with open(os.path.join(pdir, f"part-{f:02d}.osm.pbf"), "wb") as fh:
            fh.write(b"".join(parts))
    expect = {
        layer: {"n": len(v), "h": int(sum(k % HASH_P for k in v)), "x": 0}
        for layer, v in truth.items()
    }
    return {
        "rows": PBF_FILES * PBF_BLOBS * PBF_NODES_PER_BLOB + wid - 1,
        "input_bytes": dir_bytes(pdir),
        "expect": expect,
    }


GENERATORS = {"geo_enrich": _gen_geo, "text_dedup": _gen_dedup, "pbf_ingest": _gen_pbf}


def generate(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """(input directory, manifest) for ``workload`` at ``seed``; cached."""
    d = os.path.join(cache_root, f"{workload}-{seed}-{_digest()}")
    man = os.path.join(d, "manifest.json")
    if os.path.exists(man):
        with open(man) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = GENERATORS[workload](seed, tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, info
