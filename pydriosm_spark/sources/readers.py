"""The compressed text-format scans of the reference's reader surface:

* ``read_csv_xz``    — S7 (/root/reference/pydriosm/reader/parser.py:1995-2018):
  lzma-compressed tab-separated files with default columns
  ``[type, id, feature, note]``.  The reference decompresses in one
  process and splits lines in a multiprocessing pool; here each file is
  a ``binaryFile`` row decompressed inside ``mapInPandas`` — task
  parallelism across files, vectorized split.
* ``read_geojson_xz``— S8 (parser.py:2023-2069): lzma + JSON, the
  ``features`` array exploded to rows (id, geometry json, properties),
  dropping the constant ``type`` column like the reference (:2058-2060).

Both return DataFrames; for many files the scan parallelizes per file
via ``binaryFile`` (at 100 TB the equivalent input is already landed
columnar, making these the ingest edge, not the hot path).  Zipped and
plain shapefiles (S4/S5) are read by ``spark.read.format("osmshp")``
(``sources/shp_datasource.py``).
"""

from __future__ import annotations

import json
import lzma
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

CSV_XZ_DEFAULT_COLS = ["type", "id", "feature", "note"]


def read_csv_xz(
    spark: SparkSession, path: str, col_names: list[str] | None = None, sep: str = "\t"
) -> DataFrame:
    cols = col_names or CSV_XZ_DEFAULT_COLS
    schema = ", ".join(f"`{c}` string" for c in cols) + ", src_file string"

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for fpath, content in zip(b["path"], b["content"]):
                text = lzma.decompress(bytes(content)).decode("utf-8")
                lines = [ln for ln in text.split("\n") if ln]
                rows = [ln.split(sep)[: len(cols)] for ln in lines]
                df = pd.DataFrame(rows, columns=cols[: len(rows[0])] if rows else cols)
                for c in cols:
                    if c not in df.columns:
                        df[c] = None
                df["src_file"] = fpath
                yield df[cols + ["src_file"]]

    return (
        spark.read.format("binaryFile").load(path).select("path", "content").mapInPandas(decode, schema)
    )


def read_geojson_xz(spark: SparkSession, path: str) -> DataFrame:
    schema = "id long, geometry string, properties string, src_file string"

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for fpath, content in zip(b["path"], b["content"]):
                data = json.loads(lzma.decompress(bytes(content)))
                rows = [
                    (
                        f.get("id"),
                        json.dumps(f.get("geometry"), separators=(",", ":")),
                        json.dumps(f.get("properties"), separators=(",", ":")),
                        fpath,
                    )
                    for f in data.get("features", [])
                ]
                yield pd.DataFrame(rows, columns=["id", "geometry", "properties", "src_file"])

    return (
        spark.read.format("binaryFile").load(path).select("path", "content").mapInPandas(decode, schema)
    )
