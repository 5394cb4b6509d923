"""OSM XML (.osm / .osm.bz2) reader — completes the reference surface
whose own implementation is an unfinished stub
(/root/reference/pydriosm/reader/parser.py:1969-1985): SURVEY.md §2 row
S9.

The XML carries the same primitive model as PBF (nodes with lat/lon +
tags, ways with nd refs + tags, relations with typed members + tags), so
this module only parses; layer assembly reuses the PBF assemblers
(sources/pbf.py) verbatim — the two formats produce identical features
for identical content (equivalence-tested against the crafted-PBF
encoder).

Coordinates are rounded to the 1e-7 OSM precision, matching the PBF
decoder's convention.
"""

from __future__ import annotations

import bz2
import xml.etree.ElementTree as ET
from io import BytesIO
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_MEMBER_KINDS = {"node", "way", "relation"}


def parse_osm_xml(data: bytes):
    """.osm (or .osm.bz2) bytes -> (nodes, ways, relations) with exactly
    the tuple shapes of ``pbf.parse_pbf``: nodes (id, lat, lon, {tags});
    ways (id, [refs], {tags}); relations (id, [(type, ref, role)],
    {tags})."""
    if data[:3] == b"BZh":
        data = bz2.decompress(data)
    nodes, ways, rels = [], [], []
    for _event, el in ET.iterparse(BytesIO(data), events=("end",)):
        if el.tag == "node":
            tags = {t.get("k"): t.get("v") for t in el.findall("tag")}
            nodes.append(
                (
                    int(el.get("id")),
                    round(float(el.get("lat")), 7),
                    round(float(el.get("lon")), 7),
                    tags,
                )
            )
            el.clear()
        elif el.tag == "way":
            refs = [int(nd.get("ref")) for nd in el.findall("nd")]
            tags = {t.get("k"): t.get("v") for t in el.findall("tag")}
            ways.append((int(el.get("id")), refs, tags))
            el.clear()
        elif el.tag == "relation":
            members = [
                (m.get("type"), int(m.get("ref")), m.get("role") or "")
                for m in el.findall("member")
                if m.get("type") in _MEMBER_KINDS
            ]
            tags = {t.get("k"): t.get("v") for t in el.findall("tag")}
            rels.append((int(el.get("id")), members, tags))
            el.clear()
    return nodes, ways, rels


def read_osm_bz2(spark: SparkSession, path: str, layer_names=None) -> dict:
    """The 5-layer read surface over .osm/.osm.bz2 files:
    {layer: DataFrame(id, geometry, properties, src_file)}, every layer
    (points included) in ``pbf.LAYER_SCHEMA`` and built by the PBF
    reader's assemblers."""
    import json

    from pydriosm_spark.sources.pbf import LAYER_ASSEMBLERS, LAYER_SCHEMA

    names = layer_names or list(LAYER_ASSEMBLERS)
    out = {}
    for name in names:
        assembler = LAYER_ASSEMBLERS[name]

        def decode(batches: Iterator[pd.DataFrame], assembler=assembler) -> Iterator[pd.DataFrame]:
            for b in batches:
                for fpath, content in zip(b["path"], b["content"]):
                    n, w, r = parse_osm_xml(bytes(content))
                    feats = sorted(assembler(n, w, r), key=lambda f: f["id"])
                    yield pd.DataFrame(
                        [
                            (
                                f["id"],
                                json.dumps(f["geometry"], separators=(",", ":")),
                                f["properties"],
                                fpath,
                            )
                            for f in feats
                        ],
                        columns=["id", "geometry", "properties", "src_file"],
                    )

        out[name] = (
            spark.read.format("binaryFile")
            .load(path)
            .select("path", "content")
            .mapInPandas(decode, LAYER_SCHEMA)
        )
    return out
