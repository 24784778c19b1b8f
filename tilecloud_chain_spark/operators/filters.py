"""Filter / predicate operators (SURVEY.md §2.4).

- FL1 geometry-intersection filter: the reference buffers each tile's extent
  by ``(px_buffer + meta_buffer if meta) * resolution`` and keeps it when the
  box ``intersects`` the per-zoom geometry
  (``IntersectGeometryFilter``,
  /root/reference/tilecloud_chain/__init__.py:2637-2697). Here: tile extents
  are computed JVM-side (gridmath), the box-vs-geometry predicate runs as a
  vectorized numpy kernel inside an Arrow-batched pandas UDF over a broadcast
  geometry — no per-row Python.
- FL2 hash dropper (empty-tile elimination): drop when
  ``len(data)==size && digest(data)==hash``
  (``HashDropper``, tilecloud_chain/__init__.py:2442-2493). Built-in
  ``sha2``/``length`` — pure JVM.
- FL3 drop-empty (tilecloud_chain/__init__.py:2700-2718).
- FL4 modulo process partitioner (tilecloud_chain/__init__.py:2614-2634) —
  under Spark this is ``repartition``; the predicate is kept for parity.
- FL5 zoom pruning: plan-time (static) zoom selection, incl. the
  ``min_resolution_seed`` gate (tilecloud_chain/__init__.py:2048-2073).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from tilecloud_chain_spark.config import Grid
from tilecloud_chain_spark.functions import gridmath as GM
from tilecloud_chain_spark.geometry import Geom


def geom_intersect_filter(
    df: DataFrame,
    grid: Grid,
    geoms: dict[int, Geom],
    buffer_px: float = 0.0,
    n: int | str | Column = 1,
    keep_col: str | None = None,
) -> DataFrame:
    """FL1 — keep tiles whose (buffered) extent intersects the per-zoom geom.

    ``df`` needs columns z, x, y (+ n when metatiles). The geometry dict is
    closed over and shipped once per executor via Spark's task-closure
    broadcast; the predicate evaluates ~10k boxes per Arrow batch in numpy.
    When ``keep_col`` is given, adds a boolean column instead of filtering
    (used to compute generated/dropped/stored counts in one pass).
    """
    n_col = F.lit(n) if isinstance(n, int) else (F.col(n) if isinstance(n, str) else n)
    tminx, tminy, tmaxx, tmaxy = GM.tile_extent(
        grid, F.col("z"), F.col("x"), F.col("y"), n_col, float(buffer_px)
    )

    geoms_items = {int(z): g for z, g in geoms.items()}

    @pandas_udf("boolean")
    def _intersects(z: pd.Series, minx: pd.Series, miny: pd.Series,
                    maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        boxes = np.column_stack(
            [minx.to_numpy(), miny.to_numpy(), maxx.to_numpy(), maxy.to_numpy()]
        )
        out = np.zeros(len(boxes), dtype=bool)
        zv = z.to_numpy()
        for zoom in np.unique(zv):
            g = geoms_items.get(int(zoom))
            if g is None or g.is_empty:
                continue
            mask = zv == zoom
            out[mask] = g.intersects_boxes(boxes[mask])
        return pd.Series(out)

    pred = _intersects(F.col("z"), tminx, tminy, tmaxx, tmaxy)
    if keep_col is not None:
        return df.withColumn(keep_col, pred)
    return df.filter(pred)


def hash_drop(
    df: DataFrame,
    empty_hash: str | None,
    empty_size: int | None = None,
    data_col: str = "data",
    keep_col: str | None = None,
) -> DataFrame:
    """FL2 — drop rows whose payload matches the configured empty-content
    fingerprint. Reference uses sha1+len (tilecloud_chain/__init__.py:2459-2473);
    we fingerprint with built-in ``sha2(…, 256)`` (stronger, still JVM-side).
    """
    if empty_hash is None:
        return df if keep_col is None else df.withColumn(keep_col, F.lit(True))
    pred = F.sha2(F.col(data_col), 256) != F.lit(empty_hash)
    if empty_size is not None:
        pred = pred | (F.length(F.col(data_col)) != F.lit(empty_size))
    if keep_col is not None:
        return df.withColumn(keep_col, pred)
    return df.filter(pred)


def process_filter(
    df: DataFrame, nb_process: int, process_nb: int, n: int | str = 1
) -> DataFrame:
    """FL4 parity predicate. In production use ``repartition(nb, cell)``."""
    n_col = F.col(n) if isinstance(n, str) else F.lit(n)
    return df.filter(
        GM.process_filter_keep(F.col("z"), F.col("x"), F.col("y"), n_col, nb_process, process_nb)
    )


def select_zooms(
    grid: Grid,
    zooms: Iterable[int] | None = None,
    min_resolution_seed: float | None = None,
) -> list[int]:
    """FL5 — plan-time zoom pruning: drop zooms beyond the grid and zooms
    finer than ``min_resolution_seed`` (tilecloud_chain/__init__.py:2028-2073)."""
    out = []
    for z in zooms if zooms is not None else range(len(grid.resolutions)):
        if z < 0 or z >= len(grid.resolutions):
            continue
        if min_resolution_seed is not None and float(grid.resolutions[z]) < min_resolution_seed:
            continue
        out.append(z)
    return out
