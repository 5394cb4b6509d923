"""``spark.read.format("osmshp")`` — the one shapefile reader, for plain
``.shp`` files (with or without a ``.shx``) and zipped Geofabrik extracts
alike — and the ``df.write.format("osmshp")`` sink.

    spark.dataSource.register(OsmShpDataSource)  # get_spark() does this
    df = spark.read.format("osmshp").option("layers", "railways,places").load(path)

``path`` is a file, a directory (walked for ``*.shp`` and ``*.zip``), a
glob or a ``file:`` URI, listed by the rule ``osmpbf`` uses
(:func:`pydriosm_spark.sources.pbf.list_files`).  Options:

* ``layers`` — comma-separated layer names (default: all): the
  reference's selective extraction (parser.py:404-410); a layer not
  asked for is never inflated or decoded;
* ``n_tasks`` — stripes per plain file; by default one per record, at
  most ``MAX_STRIPES``, counted from the ``.shx`` size (one stripe
  without a ``.shx``);
* ``geometry`` — ``"wkt"`` appends ``geometry_wkt``.

Rows are (layer, record_idx, shape_type, coordinates, parts, fields
json, src_file), the reference's pyshp row surface (parser.py:472-607).
The layer is named from the file or member name by the Geofabrik regex
with its ``_a`` area suffix stripped (parser.py:205-213); ``src_file``
is the plain path of the ``.shp`` or the zip.

The driver lists files and each zip's member names, and opens no
``.shp``.  A partition is ``(file, zip member or None, stripe,
n_stripes)``, and every partition runs one record loop: take the
(offset, length) record index from the ``.shx``, or walk the ``.shp``
record headers when there is none (:func:`pydriosm_spark.sources.shp.shp_index`);
for each record ``i`` of the stripe, parse the ``.shp`` record at its
offset and ``.dbf`` record ``i`` at ``hdr_size + i * rec_size``, and
emit the row.  A feature whose ``.dbf`` record is flagged deleted is not
emitted, as in GDAL's Shapefile driver (the reference's geopandas
engine); its neighbours keep their own attributes and record numbers.
A plain file is read by seeking.  A zip member is inflated once and
read by slicing, as one stripe, since inflating is sequential.
"""

from __future__ import annotations

import io
import json
import os
import re
import struct
import zipfile
from contextlib import ExitStack
from dataclasses import dataclass
from typing import Iterator, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

SHP_SCHEMA = (
    "layer string, record_idx long, shape_type int, "
    "coordinates array<array<double>>, parts array<int>, fields string, src_file string"
)
#: option("geometry", "wkt") appends the reconstructed WKT — the
#: reference's ``emulate_gpd=True`` shapely-geometry column
#: (parser.py:600-603) re-expressed as text geometry
SHP_SCHEMA_WKT = SHP_SCHEMA + ", geometry_wkt string"
LAYER_NAME_RE = re.compile(r"(?<=gis_osm_)\w+(?=(_a)?_free_1)")
#: default stripes per plain file at most
MAX_STRIPES = 8


def layer_name_of_member(member: str) -> str | None:
    """Layer name from a Geofabrik member filename — regex + the
    reference's ``_a`` area-file suffix strip (parser.py:205-213)."""
    m = LAYER_NAME_RE.search(member)
    return m.group(0).replace("_a", "") if m else None


def _layer(name: str) -> str:
    base = os.path.basename(name)
    return layer_name_of_member(base) or base[:-4]


class _Part(InputPartition):
    """Stripe ``stripe`` of ``n_stripes`` of the shapefile ``file``, or of
    the ``.shp`` member ``member`` of the zip ``file``."""

    def __init__(self, file: str, member: str | None, stripe: int, n_stripes: int):
        self.file, self.member = file, member
        self.stripe, self.n_stripes = stripe, n_stripes


class OsmShpReader(DataSourceReader):
    def __init__(self, options):
        from pydriosm_spark.sources.pbf import list_files

        #: stripes per plain file; None sizes them from each file's .shx
        n_tasks = options.get("n_tasks")
        self.n_tasks = None if n_tasks is None else int(n_tasks)
        layers = options.get("layers")
        self.layers = None if layers is None else {x.strip() for x in layers.split(",")}
        self.with_wkt = options.get("geometry", "").lower() == "wkt"
        path = options.get("path")
        if not path:
            raise ValueError("osmshp: .load(path) or .option('path', ...) is required")
        self.files = list_files(path, (".shp", ".zip"))
        if not self.files:
            raise FileNotFoundError(f"osmshp: no .shp or .zip files under {path!r}")

    def _wanted(self, name: str) -> bool:
        return self.layers is None or _layer(name) in self.layers

    def _stripes(self, file: str) -> int:
        if self.n_tasks is not None:
            return self.n_tasks
        try:  # a stat, not an open: the .shx holds 8 bytes per record
            n_records = (os.path.getsize(file[:-4] + ".shx") - 100) // 8
        except OSError:
            return 1
        return min(MAX_STRIPES, max(1, n_records))

    def partitions(self):
        parts = []
        for f in self.files:
            if f.endswith(".zip"):
                with zipfile.ZipFile(f) as z:
                    parts += [
                        _Part(f, m, 0, 1)
                        for m in z.namelist()
                        if m.endswith(".shp") and self._wanted(m)
                    ]
            elif self._wanted(f):
                k = self._stripes(f)
                parts += [_Part(f, None, s, k) for s in range(k)]
        return parts

    def read(self, partition) -> Iterator[Tuple]:
        from pydriosm_spark.sources import shp as S

        if partition is None:  # Spark's stand-in when no layer was wanted
            return
        f, member = partition.file, partition.member
        layer = _layer(member or f)
        with ExitStack() as stack:
            if member is None:
                shp = stack.enter_context(open(f, "rb"))

                def sidecar(ext):
                    p = f[:-4] + ext
                    return stack.enter_context(open(p, "rb")) if os.path.exists(p) else None
            else:
                z = stack.enter_context(zipfile.ZipFile(f))
                names = set(z.namelist())
                shp = io.BytesIO(z.read(member))

                def sidecar(ext):
                    m = member[:-4] + ext
                    return io.BytesIO(z.read(m)) if m in names else None

            shx, dbf = sidecar(".shx"), sidecar(".dbf")
            index = S.parse_shx(shx.read()) if shx else S.shp_index(shp)
            if dbf:
                head = dbf.read(32)
                (hdr_size,) = struct.unpack("<H", head[8:10])
                fields, _n, hdr_size, rec_size = S.parse_dbf_header(
                    head + dbf.read(max(0, hdr_size - 32))
                )
            if self.with_wkt:
                from pydriosm_spark.functions.transforms import shape_to_wkt
            for i in range(partition.stripe, len(index), partition.n_stripes):
                off, ln = index[i]
                shp.seek(off)
                st, pts, parts = S.parse_shp_record(shp.read(ln))
                rec = {}
                if dbf:
                    dbf.seek(hdr_size + i * rec_size)
                    raw = dbf.read(rec_size)
                    if len(raw) == rec_size:
                        rec = S.parse_dbf_record(raw, fields)
                        if rec is None:  # flagged deleted: no feature
                            continue
                row = (
                    layer, i, st,
                    [[float(x), float(y)] for x, y in pts],
                    list(parts),
                    json.dumps(rec, default=str),
                    f,
                )
                if self.with_wkt:
                    row += (shape_to_wkt(st, pts, parts or None),)
                yield row


@dataclass
class _ShpCommit(WriterCommitMessage):
    files: tuple
    rows: int


class OsmShpWriter(DataSourceWriter):
    """``df.write.format("osmshp").save(dir)`` — the shapefile SINK as a
    DataSource (reference K1's one-call write, parser.py:631-639 dtype
    surface via `shp_writer`): each task writes
    ``part-<pid>/<layer>.shp/.shx/.dbf/.prj/.cpg`` per layer it sees, so
    the directory reads back with each row's layer as written; the driver
    commits a ``_manifest.json`` (files + row counts, the lineage sidecar)
    and ``_SUCCESS`` only after every task reported — a half-written
    directory has no marker and readers can tell."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("osmshp write: .save(path) is required")
        self.layer_col = options.get("layer_col", "layer")
        if overwrite and os.path.isdir(self.path):
            import shutil

            for f in os.listdir(self.path):
                shutil.rmtree(os.path.join(self.path, f), ignore_errors=True) \
                    if os.path.isdir(os.path.join(self.path, f)) \
                    else os.remove(os.path.join(self.path, f))
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator) -> _ShpCommit:
        from pyspark import TaskContext

        from pydriosm_spark.sources.shp_writer import write_shapefile

        pid = TaskContext.get().partitionId()
        by_layer: dict = {}
        for row in iterator:
            d = row.asDict()
            layer = d.get(self.layer_col) or "layer"
            shapes, recs = by_layer.setdefault(layer, ([], []))
            shapes.append(
                (
                    int(d["shape_type"]),
                    [(float(x), float(y)) for x, y in d["coordinates"]],
                    [int(p) for p in (d["parts"] or [])],
                )
            )
            rec = d.get("fields")
            recs.append(json.loads(rec) if isinstance(rec, str) else (rec or {}))
        files = []
        total = 0
        part = f"part-{pid:05d}"
        if by_layer:
            os.makedirs(os.path.join(self.path, part), exist_ok=True)
        for layer, (shapes, recs) in by_layer.items():
            write_shapefile(os.path.join(self.path, part, layer), shapes, recs)
            files.append(os.path.join(part, layer + ".shp"))
            total += len(shapes)
        return _ShpCommit(files=tuple(files), rows=total)

    def commit(self, messages) -> None:
        manifest = {
            "files": [f for m in messages if m for f in m.files],
            "rows": sum(m.rows for m in messages if m),
        }
        with open(os.path.join(self.path, "_manifest.json"), "w") as f:
            json.dump(manifest, f)
        open(os.path.join(self.path, "_SUCCESS"), "w").close()

    def abort(self, messages) -> None:
        for m in messages:
            if not m:
                continue
            for fn in m.files:
                base = os.path.join(self.path, fn[:-4])
                for ext in (".shp", ".shx", ".dbf", ".prj", ".cpg"):
                    try:
                        os.remove(base + ext)
                    except OSError:
                        pass
                try:
                    os.rmdir(os.path.dirname(base))
                except OSError:  # the task's other layers are still there
                    pass


class OsmShpDataSource(DataSource):
    """Register once per session: ``spark.dataSource.register(OsmShpDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "osmshp"

    def schema(self):
        if self.options.get("geometry", "").lower() == "wkt":
            return SHP_SCHEMA_WKT
        return SHP_SCHEMA

    def reader(self, schema) -> OsmShpReader:
        return OsmShpReader(self.options)

    def writer(self, schema, overwrite: bool) -> OsmShpWriter:
        return OsmShpWriter(self.options, overwrite)
