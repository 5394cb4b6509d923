"""Hot-key skew handling: histogram-driven salted repartitioning.

Dense regions concentrate points in a handful of cells (central London
vs the ocean); a shuffle join keyed on cell would put a large fraction
of the fact table into a few reducers.  The standard fix, computed not
guessed (SURVEY.md §4.2):

1. aggregate a cell histogram (cheap: one partial+final count),
2. cells whose count exceeds ``target_rows_per_task`` get
   ``n_salt = ceil(count / target)`` salts,
3. the probe side gets ``salt = pmod(<row key>, n_salt)``; any
   numeric per-row value works (a stable id, or
   ``monotonically_increasing_id``), because every salt replica of a
   hot cell's build rows is present, so each probe row meets its build
   rows exactly once whichever salt it draws,
4. the build side replicates each hot cell's rows once per salt,
5. the join key becomes ``(cell, salt)``.

AQE's skew-join splitting remains enabled as a backstop, but the salt
plan is explicit: the join result does not depend on the salts, and the
task shapes follow from the histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_cell_salts(probe: DataFrame, key: str, target_rows_per_task: int) -> DataFrame:
    """(key, n_salt) for keys needing more than one task."""
    return (
        probe.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select(
            key,
            F.ceil(F.col("__cnt") / target_rows_per_task).cast("int").alias("n_salt"),
        )
        .filter(F.col("n_salt") > 1)
    )


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    salt_src: str,
    salts: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Equi-join probe⋈build on ``key`` with hot keys salted.

    ``salt_src``: a numeric probe-side column (e.g. doc_id) whose pmod
    spreads a hot key's rows across ``n_salt`` sub-keys.
    ``salts``: (key, n_salt) from :func:`hot_cell_salts` (small,
    broadcast).  Non-hot keys keep salt 0 with no replication.
    """
    s = F.broadcast(salts)
    p = (
        probe.join(s, key, "left")
        .withColumn("__n", F.coalesce(F.col("n_salt"), F.lit(1)))
        .withColumn("__salt", F.pmod(F.col(salt_src), F.col("__n")).cast("int"))
        .drop("n_salt", "__n")
    )
    b = (
        build.join(s, key, "left")
        .withColumn("__n", F.coalesce(F.col("n_salt"), F.lit(1)))
        .withColumn("__salt", F.explode(F.expr("sequence(0, __n - 1)")))
        .drop("n_salt", "__n")
    )
    return p.join(b, [key, "__salt"], how).drop("__salt")
