"""The generate-tiles pipeline composition (SURVEY.md §3.1/§3.2).

Reference plan order (generate.py:134-376): enumerate -> geometry filter ->
[master: enqueue | local/slave: render -> metatile hash-drop (BEFORE split,
generate.py:305-322) -> split -> tile hash-drop -> store]. Here each step is
a DataFrame transform; the queue/checkpoint store supplies master/slave
separation and exact resume; explicit transform ordering preserves the
reference's physical tricks (drop-before-split, filter-before-expensive).
The slave role is one ``tiles`` stage per queued zoom, declared as
``plans/graph.py`` nodes: they read disjoint queue slices and share no
file, so the graph runner runs them as one concurrent wave, as the
reference's slaves drain the queue concurrently (generate.py:273-283). A
failed zoom is marked ``error`` while the other zooms still commit, and a
resume re-runs only the zooms not ``done``.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tilecloud_chain_spark.checkpoint import CheckpointStore
from tilecloud_chain_spark.config import Grid, Layer
from tilecloud_chain_spark.functions import gridmath as GM
from tilecloud_chain_spark.geometry import Geom
from tilecloud_chain_spark.operators import filters as FL
from tilecloud_chain_spark.operators import raster as R
from tilecloud_chain_spark.plans import graph as G
from tilecloud_chain_spark.session import local_frame
from tilecloud_chain_spark.sources import enumerate as EN


def plan_metatiles(
    spark: SparkSession,
    grid: Grid,
    layer: Layer,
    geoms: dict[int, Geom],
    zooms: Iterable[int] | None = None,
    sparse: bool = True,
) -> DataFrame:
    """Master-role plan: enumerate + geometry-filter metatiles.

    Sparse enumeration for masters (generate.py:227-234: sparse_meta_seed on
    master role), dense for local; the exact metatile filter always re-tests
    (sparse is a superset pruning, like partition pruning).
    """
    zooms = FL.select_zooms(grid, zooms, layer.min_resolution_seed)
    n = layer.meta_size if layer.meta else 1
    if sparse and layer.meta:
        metas = EN.sparse_metatiles(spark, grid, geoms, zooms, n=n, px_buffer=layer.px_buffer)
    else:
        metas = None
        for z in zooms:
            g = geoms.get(z)
            if g is None or g.is_empty:
                continue
            df = EN.dense_metatiles(spark, grid, [z], n=n, bounds=g.bounds(),
                                    px_buffer=layer.px_buffer)
            metas = df if metas is None else metas.unionAll(df)
        if metas is None:
            return local_frame(spark, [], "z int, x int, y int, n int")
    return FL.geom_intersect_filter(
        metas, grid, geoms, buffer_px=layer.filter_buffer_px(), n="n"
    )


def _cell(df: DataFrame) -> Column:
    """Lineage and queue cell: the tile's (z, x, y) packed into one long."""
    return GM.cell_key(F.col("z"), F.col("x"), F.col("y"))


def generate_tiles(
    spark: SparkSession,
    grid: Grid,
    layer: Layer,
    geoms: dict[int, Geom],
    store: CheckpointStore,
    zooms: Iterable[int] | None = None,
    meta_buffer: int | None = None,
    fmt: str = "png",
    job_id: str | None = None,
) -> str:
    """Full run: the master step (plan + enqueue), then the slave role —
    one ``tiles`` stage per queued zoom (render -> drop -> split -> drop
    -> store, each zoom = one checkpointed stage with lineage,
    BASELINE.json mandate), run by the graph runner as one concurrent
    wave; returns job_id. Pass it back in to resume after a kill: the plan
    is skipped once the job's queue has committed, and only the zooms not
    yet done render. The resolved meta buffer and the format are recorded
    in the job marker, and a resume with different ones (or another
    layer) is refused (``CheckpointStore.open_job``)."""
    mb = layer.meta_buffer if meta_buffer is None else meta_buffer
    job_id = store.open_job(layer.name, {"meta_buffer": mb, "fmt": fmt}, job_id)
    if "meta_tiles_total" not in store.job(job_id):  # the queue's commit mark
        metas = plan_metatiles(spark, grid, layer, geoms, zooms)
        store.enqueue(job_id, metas.withColumn("cell", _cell(metas)))

    def tiles(z: int) -> G.Node:
        # fused render+split with drop-empty short-circuit: pixel-exact
        # equivalent of render -> empty-metatile hash-drop (before split,
        # generate.py:305-322) -> split -> empty-tile hash-drop; the
        # equivalence is pinned by tests/test_multigrid_fused.py
        return G.Node("tiles", (), lambda ins: R.render_split_metatiles(
            store.queue(job_id, z).select("z", "x", "y", "n"), grid, geoms,
            meta_buffer=mb, fmt=fmt, drop_empty_children=True), z)

    G.run([tiles(z) for z in store.queue_zooms(job_id)], ("tiles",), store=store,
          job_id=job_id, cell=_cell, bytes_col="data")
    return job_id
