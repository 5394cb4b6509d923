"""A deterministic Geofabrik-style shapefile lake for the shapefile read
path, written with ``shp_writer.write_shapefile``.

Four layers, named as in a Geofabrik ``*-latest-free.shp.zip``:

* ``gis_osm_railways_free_1`` — PolyLines, every fifth in three parts;
* ``gis_osm_natural_free_1``  — Points; ``.dbf`` record ``DELETED[1]`` is
  flagged deleted;
* ``gis_osm_water_a_free_1``  — Polygons (an area layer, read as
  ``water``), every third with a hole;
* ``gis_osm_transport_free_1`` — MultiPoints, written without a ``.shx``.

Their ``.dbf`` files carry N (int, some blank), F, L and C fields.  The
same files, plus a ``README.txt``, are also packed as one ``.shp.zip``.
:func:`write_lake` lays both out; :data:`LAYERS` holds what was written,
so a reader's rows can be checked against the source values rather than
against another parser.
"""

from __future__ import annotations

import json
import os
import zipfile

from pydriosm_spark.sources.shp_writer import write_shapefile

PLAIN = "plain"  # the lake's directory of unzipped layers
ZIP = "lake-latest-free.shp.zip"
NO_SHX = "gis_osm_transport_free_1"
#: (member base, record index) whose .dbf record is flagged deleted
DELETED = ("gis_osm_natural_free_1", 3)


def _railways(n=240):
    shapes, recs = [], []
    for i in range(n):
        x, y = -0.75 + 0.001 * i, 52.55 + 0.0005 * i
        line = [(x, y), (x + 0.002, y + 0.001), (x + 0.003, y + 0.003)]
        if i % 5 == 0:
            pts = line + [(x + 0.01, y), (x + 0.012, y + 0.002), (x + 0.02, y), (x + 0.021, y)]
            shapes.append((3, pts, [0, 3, 5]))
        else:
            shapes.append((3, line, [0]))
        recs.append({
            "osm_id": str(1000 + i), "code": 6101 + i % 3, "fclass": ("rail", "tram", "subway")[i % 3],
            "name": f"line {i}" if i % 4 else "", "layer": (i % 3) - 1 if i % 7 else None,
            "bridge": i % 6 == 0, "tunnel": i % 9 == 0,
        })
    return shapes, recs


def _natural(n=300):
    shapes = [(1, [(-0.7 + 0.0007 * i, 52.6 + 0.0003 * (i % 50))], []) for i in range(n)]
    recs = [
        {"osm_id": str(5000 + i), "code": 4101 + i % 4, "fclass": ("tree", "peak", "spring", "cliff")[i % 4],
         "name": f"n{i}" if i % 3 else "", "ele": 0.25 * i if i % 4 == 1 else None}
        for i in range(n)
    ]
    return shapes, recs


def _water(n=60):
    shapes, recs = [], []
    for i in range(n):
        x, y = -0.72 + 0.004 * (i % 10), 52.58 + 0.004 * (i // 10)
        outer = [(x, y), (x, y + 0.003), (x + 0.003, y + 0.003), (x + 0.003, y), (x, y)]
        if i % 3 == 0:
            hole = [(x + 0.001, y + 0.001), (x + 0.002, y + 0.001), (x + 0.002, y + 0.002),
                    (x + 0.001, y + 0.002), (x + 0.001, y + 0.001)]
            shapes.append((5, outer + hole, [0, 5]))
        else:
            shapes.append((5, outer, [0]))
        recs.append({"osm_id": str(9000 + i), "code": 8200 + i % 2, "fclass": ("water", "reservoir")[i % 2],
                     "name": f"pond {i}", "area_ha": 0.5 + 0.125 * i})
    return shapes, recs


def _transport(n=40):
    shapes = [
        (8, [(-0.69 + 0.001 * i + 0.0001 * k, 52.61 + 0.0002 * k) for k in range(1 + i % 4)], [])
        for i in range(n)
    ]
    recs = [{"code": 5601 + i % 2, "fclass": ("bus_stop", "taxi")[i % 2], "sheltered": i % 2 == 0}
            for i in range(n)]
    return shapes, recs


#: member base -> (layer name, shapes, records) as written
LAYERS = {
    "gis_osm_railways_free_1": ("railways", *_railways()),
    "gis_osm_natural_free_1": ("natural", *_natural()),
    "gis_osm_water_a_free_1": ("water", *_water()),
    "gis_osm_transport_free_1": ("transport", *_transport()),
}


def write_lake(d) -> str:
    """Write ``d/plain/*.shp|shx|dbf|prj|cpg`` (no ``.shx`` for
    :data:`NO_SHX`) and ``d/<ZIP>`` holding the same files; returns ``d``."""
    plain = os.path.join(d, PLAIN)
    os.makedirs(plain, exist_ok=True)
    for base, (_layer, shapes, recs) in LAYERS.items():
        write_shapefile(os.path.join(plain, base), shapes, recs)
    os.remove(os.path.join(plain, NO_SHX + ".shx"))
    base, i = DELETED
    with open(os.path.join(plain, base + ".dbf"), "r+b") as fh:
        head = fh.read(12)
        hdr_size, rec_size = int.from_bytes(head[8:10], "little"), int.from_bytes(head[10:12], "little")
        fh.seek(hdr_size + i * rec_size)
        fh.write(b"*")
    with zipfile.ZipFile(os.path.join(d, ZIP), "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("README.txt", "A generated Geofabrik-style extract.\n")
        for name in sorted(os.listdir(plain)):
            z.write(os.path.join(plain, name), name)
    return str(d)


def expected(layers=None) -> dict:
    """{(layer, record_idx): (shape_type, coordinates, parts, fields)} as
    written, without the deleted record — what every read of the lake must
    return, keyed as :func:`keyed` keys Spark rows."""
    out = {}
    for base, (layer, shapes, recs) in LAYERS.items():
        if layers is not None and layer not in layers:
            continue
        for i, ((st, pts, parts), rec) in enumerate(zip(shapes, recs)):
            if (base, i) == DELETED:
                continue
            out[(layer, i)] = (st, tuple(pts), tuple(parts), rec)
    return out


def keyed(rows) -> dict:
    """Spark rows as {(layer, record_idx): (shape_type, coordinates,
    parts, fields)}; a duplicate key fails."""
    out = {}
    for r in rows:
        key = (r["layer"], r["record_idx"])
        assert key not in out, key
        out[key] = (
            r["shape_type"],
            tuple(tuple(p) for p in r["coordinates"]),
            tuple(r["parts"]),
            json.loads(r["fields"]),
        )
    return out
