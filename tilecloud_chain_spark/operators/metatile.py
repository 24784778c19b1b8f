"""Metatile operators (SURVEY.md §2.3 P1/P2, §2.5 J3).

A metatile is an n×n block of tiles anchored at its top-left child (x, y
multiples of n — /root/reference/tilecloud_chain/__init__.py:599-602). The
reference fans a metatile out to children by iterating its TileCoord
(``cost.py:166-185``) and splits a fetched metatile image into n² cropped
children (``MetaTileSplitterTileStore`` construction,
tilecloud_chain/__init__.py:1494-1517). Here:

- coordinate fan-out (P2) is a pure-SQL ``explode(sequence)`` cross of
  dx, dy in [0, n);
- parent linkage (J3) is ``metatile_anchor`` arithmetic — no join needed;
- image split (P1) lives in ``operators.raster`` (decode once per metatile
  inside a pandas UDF, slice n² windows offset by meta_buffer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tilecloud_chain_spark.functions import gridmath as GM


def split_to_tiles(df: DataFrame, clamp_matrix: tuple[int, int] | None = None) -> DataFrame:
    """P2 — metatile rows [z, x, y, n, …] -> child tile rows [z, x, y] with
    parent anchor kept as (meta_x, meta_y).

    ``clamp_matrix``: optional (width, height) in tiles; children falling
    outside the matrix (metatiles overhang the right/bottom edge) are
    dropped, matching the grid's BoundingPyramid clamping.
    """
    others = [c for c in df.columns if c not in ("x", "y", "n")]
    out = (
        df.withColumn("dx", F.explode(F.sequence(F.lit(0), F.col("n") - 1)))
        .withColumn("dy", F.explode(F.sequence(F.lit(0), F.col("n") - 1)))
        .select(
            *others,
            (F.col("x") + F.col("dx")).cast("int").alias("x"),
            (F.col("y") + F.col("dy")).cast("int").alias("y"),
            F.col("x").alias("meta_x"),
            F.col("y").alias("meta_y"),
        )
    )
    if clamp_matrix is not None:
        w, h = clamp_matrix
        out = out.filter((F.col("x") < w) & (F.col("y") < h))
    return out


def with_parent(df: DataFrame, n: int) -> DataFrame:
    """J3 — annotate tile rows with their owning metatile anchor
    (``tilecoord.metatilecoord(n)``, internal_mapcache.py:277-283)."""
    return df.withColumn("meta_x", GM.metatile_anchor(F.col("x"), n)).withColumn(
        "meta_y", GM.metatile_anchor(F.col("y"), n)
    )
