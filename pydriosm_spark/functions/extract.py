"""Extraction stage: html -> text -> geocoded point mentions.

The per-row invariant of the whole engine (BASELINE input_hint): the text
extracted from ``html`` must be **byte-identical per url** across runs and
parallelism levels.  Everything here is native Spark column expressions
(decode / regexp) — deterministic, JVM-side, whole-stage codegen; the
reference's equivalent is its per-feature GDAL ExportToJson decode loop
(/root/reference/pydriosm/reader/parser.py:1638) re-expressed declaratively.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydriosm_spark.sources import synth

#: regex recovering the page body; (?s) so embedded newlines survive
BODY_RE = r"(?s)<p>(.*)</p>"
#: regex matching an embedded geo token ``geo:<lat>,<lon>``
GEO_RE = r"geo:(-?[0-9]+\.[0-9]+,-?[0-9]+\.[0-9]+)"


def extract_text(webpages: DataFrame) -> DataFrame:
    """html(binary) -> extracted_text(string); byte-identical to the text
    the page was rendered from."""
    return webpages.withColumn(
        "extracted_text",
        F.regexp_extract(F.decode(F.col("html"), "utf-8"), BODY_RE, 1),
    )


def extract_mentions(webpages: DataFrame) -> DataFrame:
    """webpages -> one row per geocoded mention.

    Output: (doc_id, mention_idx, lat_str, lon_str, lat, lon, u, v)
    where doc_id is parsed back out of the url (the url is the key; we
    never peek at the synthesis side-channel), (lat, lon) are doubles from
    the canonical string parse, and (u, v) are exact integer 1e-5-degree
    offsets from the fixture bbox origin.

    ONE regex pass over the decoded page: the geo-token grammar is
    unambiguous, so scanning markup too is harmless and halves the string
    traffic of the hot path (at 8 memory-bandwidth-saturated threads a
    body-extraction pre-pass was ~40% of extraction cost: one extra
    full-page regex scan plus a body-sized string copy).  A geo token
    outside ``<p>…</p>`` counts as a mention.
    """
    src = F.decode(F.col("html"), "utf-8")
    toks = webpages.select(
        F.regexp_extract("url", r"/page/([0-9]+)$", 1).cast("long").alias("doc_id"),
        F.posexplode(F.regexp_extract_all(src, F.lit(GEO_RE), F.lit(1))).alias(
            "mention_idx", "token"
        ),
    )
    out = toks.select(
        "doc_id",
        F.col("mention_idx").cast("long").alias("mention_idx"),
        F.split("token", ",").getItem(0).alias("lat_str"),
        F.split("token", ",").getItem(1).alias("lon_str"),
    )
    out = out.withColumn("lat", F.col("lat_str").cast("double")).withColumn(
        "lon", F.col("lon_str").cast("double")
    )
    return out.withColumn(
        "u", round_half_up((F.col("lon") - synth.LON0_E5 / 100000.0) * 100000.0)
    ).withColumn(
        "v", round_half_up((F.col("lat") - synth.LAT0_E5 / 100000.0) * 100000.0)
    )


#: the largest double below 0.5
_BELOW_HALF = math.nextafter(0.5, 0.0)


def round_half_up(x: Column) -> Column:
    """``CAST(round(x) AS BIGINT)`` (half away from zero) as one add and
    one cast: ``round`` on a double builds a ``BigDecimal`` from
    ``Double.toString`` per value.  Adding the largest double below 0.5
    rather than 0.5 keeps +-0.49999999999999994 from rounding to +-1
    (``x + 0.5`` ties to 1.0 there) and integers past 2^52 from rounding
    to even, so the longs equal ``round``'s for every double; values
    outside the long range still raise under ANSI."""
    return (x + F.when(x < 0, -_BELOW_HALF).otherwise(_BELOW_HALF)).cast("long")
