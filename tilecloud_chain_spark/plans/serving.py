"""Serving-semantics columns (SURVEY.md §3.3 — GetTile routing assertions).

Batch analog of the reference server's per-request decisions
(/root/reference/tilecloud_chain/server.py:683-746):

- ``max_zoom_seed`` from ``min_resolution_seed`` (server.py:358-372): the
  deepest zoom whose resolution >= min_resolution_seed; deeper zooms are
  served dynamically;
- ``is_seeded`` = z <= max_zoom_seed (static-cache path vs dynamic);
- ``owning metatile`` anchor for the geometry redirect check
  (server.py:694-715 tests the OWNING METATILE's coordinate);
- ``geom_redirect`` = owning metatile outside the layer geometry -> dynamic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tilecloud_chain_spark.config import Grid, Layer
from tilecloud_chain_spark.functions import gridmath as GM
from tilecloud_chain_spark.geometry import Geom
from tilecloud_chain_spark.operators import filters as FL
from tilecloud_chain_spark.session import local_frame


def max_zoom_seed(grid: Grid, layer: Layer) -> int:
    """server.py:358-372: last zoom with resolution >= min_resolution_seed
    (all zooms seeded when unset)."""
    if layer.min_resolution_seed is None:
        return len(grid.resolutions) - 1
    mz = -1
    for z, res in enumerate(grid.resolutions):
        if float(res) >= layer.min_resolution_seed:
            mz = z
    return mz


def serving_columns(
    df: DataFrame, grid: Grid, layer: Layer, geoms: dict[int, Geom]
) -> DataFrame:
    """Annotate tile request rows [z, x, y] with the serving decisions."""
    mz = max_zoom_seed(grid, layer)
    n = layer.meta_size if layer.meta else 1
    out = df.withColumn("is_seeded", F.col("z") <= F.lit(mz))
    out = out.withColumn("meta_x", GM.metatile_anchor(F.col("x"), n)).withColumn(
        "meta_y", GM.metatile_anchor(F.col("y"), n)
    )
    # geometry check on the owning metatile coordinate (server.py:694-715)
    metatile_view = out.select(
        "z", "x", "y", "is_seeded",
        F.col("meta_x").alias("orig_x"), F.col("meta_y").alias("orig_y"),
    ).withColumnsRenamed({"x": "tile_x", "y": "tile_y"}).withColumnsRenamed(
        {"orig_x": "x", "orig_y": "y"}
    )
    checked = FL.geom_intersect_filter(
        metatile_view.withColumn("n", F.lit(n)), grid, geoms,
        buffer_px=layer.filter_buffer_px(), n="n", keep_col="in_geom",
    )
    return checked.select(
        "z",
        F.col("tile_x").alias("x"),
        F.col("tile_y").alias("y"),
        F.col("x").alias("meta_x"),
        F.col("y").alias("meta_y"),
        "is_seeded",
        (~F.col("in_geom")).alias("geom_redirect"),
        (F.col("is_seeded") & F.col("in_geom")).alias("static_cache_hit"),
    )


def host_serving_decisions(
    df: DataFrame,
    hosts: DataFrame,
    grid: Grid,
    layers: dict[str, Layer],
    geoms_by_layer: dict[str, dict[int, Geom]],
) -> DataFrame:
    """Multi-tenant serving: the reference serves ONE config per HTTP host
    (host->config routing /root/reference/tilecloud_chain/__init__.py:1078-1106,
    hosts file :1165-1192). Batch analog: ``hosts`` is a tiny dimension
    table [host, layer]; request tiles [z, x, y] get per-host serving
    decisions.

    Scale shape: decisions are computed ONCE per DISTINCT layer config —
    many hosts sharing a config pay a single computation — then the hosts
    dimension is broadcast-joined back (never a shuffle of the tile set).
    Hosts routing to a layer the config does not define are dropped, the
    batch analog of the reference's 400 for an unknown host."""
    from pyspark.sql.functions import broadcast

    routed = [r.layer for r in hosts.select("layer").distinct().collect()
              if r.layer in layers]  # tiny dim table — driver-side by design
    spark = df.sparkSession
    if not routed:
        schema = ("host string, layer string, z int, x int, y int, meta_x int, "
                  "meta_y int, is_seeded boolean, geom_redirect boolean, "
                  "static_cache_hit boolean")
        return local_frame(spark, [], schema)
    parts = []
    for lname in sorted(routed):
        dec = serving_columns(df, grid, layers[lname], geoms_by_layer[lname])
        parts.append(dec.select(F.lit(lname).alias("layer"), "*"))
    all_dec = parts[0]
    for p in parts[1:]:
        all_dec = all_dec.unionAll(p)
    return all_dec.join(broadcast(hosts.select("host", "layer")), "layer").select(
        "host", "layer", "z", "x", "y", "meta_x", "meta_y",
        "is_seeded", "geom_redirect", "static_cache_hit",
    )
