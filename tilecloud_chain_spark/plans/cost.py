"""Cost estimation (SURVEY.md §2.6 A2/A3) — the reference's generate-cost.

"count" algorithm (/root/reference/tilecloud_chain/cost.py:150-207): run the
real enumeration + geometry-filter pipeline and count metatiles and tiles per
zoom. The IntersectGeometryFilter's buffer rule is ``px_buffer + meta_buffer
if layer.meta`` — applied at BOTH the metatile and the child-tile level
(tilecloud_chain/__init__.py:2660-2672).

Parity — SOLVED (round 6; closes the long-standing A2 divergence): the
reference's count goldens (generate-cost point 1/1/6/2 metatiles +
64/64/339/112 tiles, tests/test_cost.py:80-112; generate zoom_list
"9 generated metatiles / 320 generated tiles",
tests/test_generate.py:1347-1377) previously looked unreproducible — no
single buffered-box-intersect semantics passes all 6 enumerated z2
metatiles (several >10 km from the point geometry against a 2560 m
buffer) while passing only 2/12 at z3 with a 1280 m buffer. Root cause,
found by reading the call contract across the library boundary:
``IntersectGeometryFilter`` passes the border to the un-vendored
``tilecloud`` library as METERS — ``tile_grid.extent(tilecoord,
resolutions[z] * px_buffer)`` (tilecloud_chain/__init__.py:2670) — but the
public ``tilecloud`` ``FreeTileGrid.extent(tilecoord, border)`` treats
``border`` in PIXEL units and multiplies by the zoom resolution again.
The effective filter buffer is therefore ``px_buffer * resolution**2``
meters (51 200 m at z2 vs 12 800 m at z3 for the 128 px point-layer
buffer) — res²-scaled, which is why no physically-consistent semantics
could fit both zooms. With that border rule, EVERY golden reproduces
exactly: 1/1/6/2 metatiles, 64/64/339/112 tiles, and the generate
zoom_list chain (19 enumerated -> 9 pass the filter -> 4 empty-metatile
drops -> 5x64 = 320 generated tiles -> 6 stored). ``tilecloud_parity=True``
applies that border semantics and is pinned against the reference goldens
in tests/test_cost_plan.py; the default (False) keeps the
physically-correct ``px_buffer * resolution`` buffer, which is what a user
re-running cost estimation would actually want (the reference numbers
inherit a unit inconsistency across the library boundary).

"area" algorithm (cost.py:124-148): nb ≈ buffered_geom.area / span² with
buffer = 0.7·span + px_buffer·res — driver-side arithmetic over broadcast
geoms (no cluster work); our square-cap buffer approximates shapely's
``buffer(d, 1)``, so area counts are estimates (cost estimation is itself an
estimate) and are NOT golden-pinned.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tilecloud_chain_spark.config import Grid, Layer
from tilecloud_chain_spark.geometry import Geom
from tilecloud_chain_spark.operators import filters as FL
from tilecloud_chain_spark.operators import metatile as MT
from tilecloud_chain_spark.session import local_frame
from tilecloud_chain_spark.sources import enumerate as EN


def cost_count(
    spark: SparkSession,
    grid: Grid,
    layer: Layer,
    geoms: dict[int, Geom],
    zooms: Iterable[int] | None = None,
    tilecloud_parity: bool = False,
) -> DataFrame:
    """Count-algorithm cost estimate -> DataFrame[z, n_metatiles, n_tiles].

    Mirrors the reference chain: dense enumeration from per-zoom geometry
    bounds (± px_buffer·res), metatile geom filter, split to children
    (n×n, unclamped — tilecloud iterates the full metatile), tile geom
    filter with the same layer buffer.

    ``tilecloud_parity``: apply the reference's effective border rule —
    ``px_buffer * resolution**2`` meters (the meters-vs-pixels unit
    inconsistency across the tilecloud_chain -> tilecloud library boundary;
    see module docstring) — reproducing the reference cost goldens exactly.
    Default False uses the physically-correct ``px_buffer * resolution``.
    """
    zooms = list(
        zooms
        if zooms is not None
        else FL.select_zooms(grid, None, layer.min_resolution_seed)
    )
    buffer_px = layer.filter_buffer_px()

    def z_buffer_px(z: int) -> float:
        # geom_intersect_filter multiplies by resolution once; parity mode
        # pre-multiplies so the effective meters are px_buffer * res**2
        return buffer_px * float(grid.resolutions[z]) if tilecloud_parity else buffer_px

    metas = None
    for z in zooms:
        g = geoms.get(z)
        if g is None or g.is_empty:
            continue
        df = EN.dense_metatiles(
            spark, grid, [z], n=layer.meta_size if layer.meta else 1,
            bounds=g.bounds(), px_buffer=layer.px_buffer,
        )
        if tilecloud_parity:
            # per-zoom buffer (res-dependent) — filter inside the loop
            df = FL.geom_intersect_filter(df, grid, geoms, buffer_px=z_buffer_px(z), n="n")
        metas = df if metas is None else metas.unionAll(df)
    if metas is None:
        return local_frame(spark, [], "z int, n_metatiles long, n_tiles long")

    if not tilecloud_parity:
        metas = FL.geom_intersect_filter(metas, grid, geoms, buffer_px=buffer_px, n="n")
    # read by both count branches, pinned lazily (the caller's action
    # materializes it): .cache() would leave a CacheManager entry for the
    # rest of the session
    metas = metas.localCheckpoint(eager=False)
    meta_counts = metas.groupBy("z").agg(F.count("*").alias("n_metatiles"))

    children = MT.split_to_tiles(metas)  # unclamped, like metatile iteration
    if tilecloud_parity:
        tiles = None
        for z in zooms:
            part = FL.geom_intersect_filter(
                children.filter(F.col("z") == z), grid, geoms,
                buffer_px=z_buffer_px(z),
            )
            tiles = part if tiles is None else tiles.unionAll(part)
    else:
        tiles = FL.geom_intersect_filter(children, grid, geoms, buffer_px=buffer_px)
    tile_counts = tiles.groupBy("z").agg(F.count("*").alias("n_tiles"))

    out = meta_counts.join(tile_counts, "z", "full").select(
        F.col("z"),
        F.coalesce("n_metatiles", F.lit(0)).alias("n_metatiles"),
        F.coalesce("n_tiles", F.lit(0)).alias("n_tiles"),
    )
    return out


def cost_area(
    grid: Grid,
    layer: Layer,
    geoms: dict[int, Geom],
    zooms: Iterable[int] | None = None,
) -> list[dict]:
    """Area-algorithm estimate (driver-side): nb ≈ area(buffer(geom,
    0.7·span + px_buffer·res)) / span². Returns [{z, n_metatiles, n_tiles}].
    """
    zooms = list(
        zooms
        if zooms is not None
        else FL.select_zooms(grid, None, layer.min_resolution_seed)
    )
    out = []
    for z in zooms:
        g = geoms.get(z)
        if g is None or g.is_empty:
            continue
        res = float(grid.resolutions[z])
        m_buffer = layer.filter_buffer_px() * res
        row = {"z": z}
        if layer.meta:
            size = grid.tile_size * layer.meta_size * res
            row["n_metatiles"] = round(_area(g.buffer(size * 0.7 + m_buffer)) / size**2)
        size = grid.tile_size * res
        row["n_tiles"] = round(_area(g.buffer(size * 0.7 + m_buffer)) / size**2)
        out.append(row)
    return out


def _area(geom: Geom) -> float:
    """Sum of part areas (parts may overlap after buffering — acceptable for
    an estimate; the reference unions via shapely)."""
    import numpy as np

    total = 0.0
    for kind, payload in geom.parts:
        if kind != "polygon":
            continue
        ext = payload[0]
        x, y = ext[:-1, 0], ext[:-1, 1]
        x2, y2 = np.roll(x, -1), np.roll(y, -1)
        a = 0.5 * abs(float(np.sum(x * y2 - x2 * y)))
        for hole in payload[1:]:
            hx, hy = hole[:-1, 0], hole[:-1, 1]
            hx2, hy2 = np.roll(hx, -1), np.roll(hy, -1)
            a -= 0.5 * abs(float(np.sum(hx * hy2 - hx2 * hy)))
        total += a
    return total
