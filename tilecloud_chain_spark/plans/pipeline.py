"""The generate-tiles pipeline composition (SURVEY.md §3.1/§3.2).

Reference plan order (generate.py:134-376): enumerate -> geometry filter ->
[master: enqueue | local/slave: render -> metatile hash-drop (BEFORE split,
generate.py:305-322) -> split -> tile hash-drop -> store]. Here each step is
a DataFrame transform; the queue/checkpoint store supplies master/slave
separation and exact resume; explicit transform ordering preserves the
reference's physical tricks (drop-before-split, filter-before-expensive).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tilecloud_chain_spark.checkpoint import CheckpointStore
from tilecloud_chain_spark.config import Grid, Layer
from tilecloud_chain_spark.functions import gridmath as GM
from tilecloud_chain_spark.geometry import Geom
from tilecloud_chain_spark.operators import filters as FL
from tilecloud_chain_spark.operators import raster as R
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
    """Full run: master (plan+enqueue) then per-zoom slave stages with
    checkpoint/lineage; returns job_id. Pass it back in to resume after a
    kill: plan and enqueue are skipped and only the zooms not yet done
    render. The resolved meta buffer and the format are recorded in the
    job marker, and a resume with different ones (or another layer) is
    refused (``CheckpointStore.open_job``)."""
    mb = layer.meta_buffer if meta_buffer is None else meta_buffer
    resume = job_id is not None
    job_id = store.open_job(layer.name, {"meta_buffer": mb, "fmt": fmt}, job_id)
    if not resume:
        metas = plan_metatiles(spark, grid, layer, geoms, zooms)
        metas = metas.withColumn("cell", GM.cell_key(F.col("z"), F.col("x"), F.col("y")))
        store.enqueue(job_id, metas)
    run_zoom_stages(spark, grid, layer, geoms, store, job_id, mb, fmt)
    return job_id


def run_zoom_stages(
    spark: SparkSession,
    grid: Grid,
    layer: Layer,
    geoms: dict[int, Geom],
    store: CheckpointStore,
    job_id: str,
    meta_buffer: int | None = None,
    fmt: str = "png",
) -> None:
    """Slave role: per-zoom render->drop->split->drop->store stages against
    the queue (each zoom = one checkpointed stage, BASELINE.json mandate)."""
    mb = layer.meta_buffer if meta_buffer is None else meta_buffer
    zooms = [r.z for r in store.queue(job_id).select("z").distinct().collect()]

    for z in sorted(zooms):

        def build(z=z):
            metas = store.queue(job_id, z).select("z", "x", "y", "n")
            # fused render+split with drop-empty short-circuit: pixel-exact
            # equivalent of render -> empty-metatile hash-drop (before split,
            # generate.py:305-322) -> split -> empty-tile hash-drop; the
            # equivalence is pinned by tests/test_multigrid_fused.py
            stored = R.render_split_metatiles(
                metas, grid, geoms, meta_buffer=mb, fmt=fmt,
                drop_empty_children=True,
            )
            return stored.withColumn(
                "cell", GM.cell_key(F.col("z"), F.col("x"), F.col("y"))
            )

        store.run_stage(job_id, "tiles", z, build, cell_col="cell", bytes_col="data")
