"""Tile-range enumeration sources (SURVEY.md §2.1 S1/S2).

Dense (S1): the reference clamps the per-zoom geometry bounds (± px_buffer ×
resolution) to the grid extent, takes the tilecoord of BOTH corners with
floor semantics, and emits the rectangle of tiles between them
(``_get_default_grid_tilecoords``,
/root/reference/tilecloud_chain/__init__.py:2117-2161). We compute the same
inclusive index rectangle at plan time (the partition-pruning analog) and
materialize it with ``spark.range`` — one distributed counter per zoom, no
driver-side tile loop, scales to billions of tiles.

Sparse (S2): the reference's ``SparseMetaTileBoundingPyramid``
(tilecloud_chain/__init__.py:438-626) buffers the geometry by px_buffer ×
resolution, slices the grid into metatile-height row bands, intersects each
band with the geometry, converts each *leaf* part's x-bounds to half-open
index intervals (floor(min), ceil(max)-1, clamped), and merges
overlapping/adjacent intervals. We reproduce those exact semantics with the
numpy geometry kernel; planning is distributed — rows are enumerated with
``spark.range`` and per-row interval extraction runs inside an Arrow-batched
``mapInPandas`` over a broadcast geometry, so a deep-zoom enumeration with
millions of row bands never loops on the driver.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tilecloud_chain_spark.config import Grid
from tilecloud_chain_spark.geometry import Geom
from tilecloud_chain_spark.session import local_frame


# --------------------------------------------------------------------------
# Plan-time range math (driver; tiny)
# --------------------------------------------------------------------------


def dense_range(
    grid: Grid,
    zoom: int,
    bounds: tuple[float, float, float, float],
    px_buffer: float = 0.0,
) -> tuple[int, int, int, int] | None:
    """Inclusive (x0, x1, y0, y1) tile-index rectangle for ``bounds`` at
    ``zoom`` with the reference's dense corner-floor semantics."""
    res = float(grid.resolutions[zoom])
    b = px_buffer * res
    minx = max(bounds[0] - b, grid.bbox[0])
    miny = max(bounds[1] - b, grid.bbox[1])
    maxx = min(bounds[2] + b, grid.bbox[2])
    maxy = min(bounds[3] + b, grid.bbox[3])
    if minx > maxx or miny > maxy:
        return None
    x0, y0 = grid.tile_at(zoom, minx, maxy)  # top-left corner
    x1, y1 = grid.tile_at(zoom, maxx, miny)  # bottom-right corner
    w, h = grid.matrix_size(zoom)
    x0, x1 = max(0, min(w - 1, x0)), max(0, min(w - 1, x1))
    y0, y1 = max(0, min(h - 1, y0)), max(0, min(h - 1, y1))
    if x0 > x1 or y0 > y1:
        return None
    return (x0, x1, y0, y1)


def metatile_range(rng: tuple[int, int, int, int], n: int) -> tuple[int, int, int, int]:
    """Round a tile-index rectangle outward to metatile anchor indices
    (anchor = top-left child, multiples of n;
    tilecloud_chain/__init__.py:599-602)."""
    x0, x1, y0, y1 = rng
    return (x0 // n, x1 // n, y0 // n, y1 // n)


def merge_index_intervals(intervals: Iterable[tuple[int, int]]) -> list[tuple[int, int]]:
    """Sort + merge overlapping/ADJACENT inclusive intervals — semantics of
    ``_merge_index_intervals`` (tilecloud_chain/__init__.py:493-505), pinned by
    the reference test [(5,7),(1,3),(3,4),(9,9),(8,8)] -> [(1,9)]."""
    s = sorted(intervals)
    if not s:
        return []
    out = [s[0]]
    for start, end in s[1:]:
        ps, pe = out[-1]
        if start <= pe + 1:
            out[-1] = (ps, max(pe, end))
        else:
            out.append((start, end))
    return out


def _bounds_to_index_range(
    bmin: float, bmax: float, origin: float, span: float, max_index: int
) -> tuple[int, int] | None:
    """floor(min)/ceil(max)-1 half-open indexing, clamped
    (tilecloud_chain/__init__.py:457-474)."""
    if bmin > bmax:
        bmin, bmax = bmax, bmin
    start = int(np.floor((bmin - origin) / span))
    end = int(np.ceil((bmax - origin) / span)) - 1
    start = max(0, min(max_index, start))
    end = max(0, min(max_index, end))
    if start > end:
        return None
    return start, end


def row_intervals(
    geom: Geom,
    grid: Grid,
    zoom: int,
    n: int,
    row: int,
) -> list[tuple[int, int]]:
    """Merged x-index intervals of ``geom ∩ row band`` at metatile row
    ``row`` — the per-leaf-geometry interval extraction of
    ``_collect_row_intervals`` (tilecloud_chain/__init__.py:549-574)."""
    span = grid.span(zoom, n)
    w, _ = grid.matrix_size(zoom, n)
    band_max_y = grid.bbox[3] - row * span
    band_min_y = band_max_y - span
    clipped = geom.clip_to_box((grid.bbox[0], band_min_y, grid.bbox[2], band_max_y))
    if clipped.is_empty:
        return []
    intervals = []
    for part in clipped.parts:
        sub = Geom([part])
        bminx, _, bmaxx, _ = sub.bounds()
        iv = _bounds_to_index_range(bminx, bmaxx, grid.bbox[0], span, w - 1)
        if iv is not None:
            intervals.append(iv)
    return merge_index_intervals(intervals)


def plan_sparse_metatiles(
    grid: Grid,
    geoms: dict[int, Geom],
    zooms: Iterable[int],
    n: int = 8,
    px_buffer: float = 0.0,
) -> Iterator[tuple[int, int, int, int]]:
    """Driver-side sparse plan: yields (z, x, y, n) metatile anchors.

    Exact port of the reference's *semantics* (buffer → row range → per-row
    intervals); used for tiny plans and as the oracle for the distributed
    variant.
    """
    for zoom in zooms:
        geom = geoms.get(zoom)
        if geom is None or geom.is_empty:
            continue
        res = float(grid.resolutions[zoom])
        buffered = geom.buffer(px_buffer * res) if px_buffer else geom
        span = grid.span(zoom, n)
        _, h = grid.matrix_size(zoom, n)
        _, bminy, _, bmaxy = buffered.bounds()
        # y range counts from top: floor((top - maxy)/span) .. ceil((top - miny)/span)-1
        start = int(np.floor((grid.bbox[3] - bmaxy) / span))
        end = int(np.ceil((grid.bbox[3] - bminy) / span)) - 1
        start = max(0, min(h - 1, start))
        end = max(0, min(h - 1, end))
        if start > end:
            continue
        for row in range(start, end + 1):
            for x0, x1 in row_intervals(buffered, grid, zoom, n, row):
                for xi in range(x0, x1 + 1):
                    yield (zoom, xi * n, row * n, n)


# --------------------------------------------------------------------------
# DataFrame sources
# --------------------------------------------------------------------------


def dense_tiles(
    spark: SparkSession,
    grid: Grid,
    zooms: Iterable[int],
    bounds: tuple[float, float, float, float] | None = None,
    px_buffer: float = 0.0,
) -> DataFrame:
    """Dense tile enumeration -> DataFrame[z int, x int, y int].

    One ``spark.range`` per zoom (unioned): id -> (x, y) by div/mod, fully
    parallel, no arrays materialized (unlike ``sequence()`` which builds the
    whole range per row). Range rectangles are computed at plan time =
    partition pruning before any cluster work.
    """
    dfs = []
    for zoom in zooms:
        rng = dense_range(grid, zoom, bounds or grid.bbox, px_buffer)
        if rng is None:
            continue
        x0, x1, y0, y1 = rng
        w = x1 - x0 + 1
        cnt = w * (y1 - y0 + 1)
        num_parts = max(1, min(spark.sparkContext.defaultParallelism * 2, cnt // 4096 + 1))
        df = (
            spark.range(0, cnt, 1, num_parts)
            .select(
                F.lit(zoom).cast("int").alias("z"),
                (F.lit(x0) + F.col("id") % F.lit(w)).cast("int").alias("x"),
                (F.lit(y0) + (F.col("id") / F.lit(w)).cast("long")).cast("int").alias("y"),
            )
        )
        dfs.append(df)
    if not dfs:
        return local_frame(spark, [], "z int, x int, y int")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionAll(df)
    return out


def dense_metatiles(
    spark: SparkSession,
    grid: Grid,
    zooms: Iterable[int],
    n: int = 8,
    bounds: tuple[float, float, float, float] | None = None,
    px_buffer: float = 0.0,
) -> DataFrame:
    """Dense metatile enumeration -> DataFrame[z, x, y, n] (anchor coords,
    x/y multiples of n — BoundingPyramid.metatilecoords analog)."""
    dfs = []
    for zoom in zooms:
        rng = dense_range(grid, zoom, bounds or grid.bbox, px_buffer)
        if rng is None:
            continue
        mx0, mx1, my0, my1 = metatile_range(rng, n)
        w = mx1 - mx0 + 1
        cnt = w * (my1 - my0 + 1)
        num_parts = max(1, min(spark.sparkContext.defaultParallelism * 2, cnt // 4096 + 1))
        df = spark.range(0, cnt, 1, num_parts).select(
            F.lit(zoom).cast("int").alias("z"),
            ((F.lit(mx0) + F.col("id") % F.lit(w)) * F.lit(n)).cast("int").alias("x"),
            ((F.lit(my0) + (F.col("id") / F.lit(w)).cast("long")) * F.lit(n))
            .cast("int")
            .alias("y"),
            F.lit(n).cast("int").alias("n"),
        )
        dfs.append(df)
    if not dfs:
        return local_frame(spark, [], "z int, x int, y int, n int")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionAll(df)
    return out


def sparse_metatiles(
    spark: SparkSession,
    grid: Grid,
    geoms: dict[int, Geom],
    zooms: Iterable[int],
    n: int = 8,
    px_buffer: float = 0.0,
) -> DataFrame:
    """Distributed sparse metatile enumeration -> DataFrame[z, x, y, n].

    Row bands are enumerated with ``spark.range`` per zoom; interval
    extraction (geometry clip + leaf x-bounds + merge) runs inside
    ``mapInPandas`` against a broadcast geometry, then intervals explode to
    anchors JVM-side via ``sequence``. Matches :func:`plan_sparse_metatiles`
    exactly (property-tested).
    """
    import pandas as pd

    zooms = [z for z in zooms if geoms.get(z) is not None and not geoms[z].is_empty]
    if not zooms:
        return local_frame(spark, [], "z int, x int, y int, n int")

    buffered: dict[int, Geom] = {}
    row_ranges: dict[int, tuple[int, int]] = {}
    for zoom in zooms:
        res = float(grid.resolutions[zoom])
        g = geoms[zoom].buffer(px_buffer * res) if px_buffer else geoms[zoom]
        span = grid.span(zoom, n)
        _, h = grid.matrix_size(zoom, n)
        _, bminy, _, bmaxy = g.bounds()
        start = max(0, min(h - 1, int(np.floor((grid.bbox[3] - bmaxy) / span))))
        end = max(0, min(h - 1, int(np.ceil((grid.bbox[3] - bminy) / span)) - 1))
        if start > end:
            continue
        buffered[zoom] = g
        row_ranges[zoom] = (start, end)
    if not row_ranges:
        return local_frame(spark, [], "z int, x int, y int, n int")

    bc = spark.sparkContext.broadcast((grid, buffered, int(n)))

    rows = None
    for zoom, (start, end) in row_ranges.items():
        cnt = end - start + 1
        num_parts = max(1, min(spark.sparkContext.defaultParallelism, cnt // 64 + 1))
        df = spark.range(0, cnt, 1, num_parts).select(
            F.lit(zoom).cast("int").alias("z"),
            (F.lit(start) + F.col("id")).cast("int").alias("row"),
        )
        rows = df if rows is None else rows.unionAll(df)

    def extract(batches):
        g_grid, g_geoms, g_n = bc.value
        for pdf in batches:
            zs, rws, x0s, x1s = [], [], [], []
            for z_val, row in zip(pdf["z"].to_numpy(), pdf["row"].to_numpy()):
                for x0, x1 in row_intervals(g_geoms[int(z_val)], g_grid, int(z_val), g_n, int(row)):
                    zs.append(z_val)
                    rws.append(row)
                    x0s.append(x0)
                    x1s.append(x1)
            yield pd.DataFrame(
                {"z": pd.array(zs, dtype="int32"), "row": pd.array(rws, dtype="int32"),
                 "x0": pd.array(x0s, dtype="int32"), "x1": pd.array(x1s, dtype="int32")}
            )

    intervals = rows.mapInPandas(extract, "z int, row int, x0 int, x1 int")
    return (
        intervals.select(
            "z", "row", F.explode(F.sequence("x0", "x1")).alias("xi")
        )
        .select(
            "z",
            (F.col("xi") * F.lit(n)).cast("int").alias("x"),
            (F.col("row") * F.lit(n)).cast("int").alias("y"),
            F.lit(n).cast("int").alias("n"),
        )
    )
