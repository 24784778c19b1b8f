"""Store/action routing + dimension fan-out (SURVEY.md §2.5 J1/J2, §2.3 P3,
§2.9 SE3).

The reference routes each tile to a per-(config, layer, grid) TileStore /
action via mtime-cached lookup maps (``MultiTileStore``
/root/reference/multitilestore.py:23-139; ``MultiAction``
tilecloud_chain/__init__.py:2505-2557). Under Spark the lookup map is a tiny
layer-config dimension DataFrame broadcast-joined onto the tile stream —
Catalyst keeps it a BroadcastHashJoin, so routing adds no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from tilecloud_chain_spark.config import Layer
from tilecloud_chain_spark.session import local_frame

# WMS params the reference strips before forwarding (generate.py:536-545)
RESERVED_PARAMS = {
    "SERVICE", "VERSION", "REQUEST", "LAYERS", "STYLES", "SRS", "CRS",
    "BBOX", "WIDTH", "HEIGHT", "FORMAT", "TRANSPARENT", "BGCOLOR",
}


def layer_config_df(spark: SparkSession, layers: dict[str, Layer]) -> DataFrame:
    """The routing dimension table: one row per layer with the parameters
    each downstream stage needs (J1's lookup map as data)."""
    rows = [
        (
            lay.name, lay.grid, lay.meta, lay.meta_size, lay.meta_buffer,
            float(lay.px_buffer), lay.empty_tile_hash, lay.empty_metatile_hash,
        )
        for lay in layers.values()
    ]
    return local_frame(
        spark,
        rows,
        "layer string, grid string, meta boolean, meta_size int, meta_buffer int,"
        " px_buffer double, empty_tile_hash string, empty_metatile_hash string",
    )


def route(tiles: DataFrame, config: DataFrame, on: str = "layer") -> DataFrame:
    """J1 — broadcast-hash join of the tile stream against the layer-config
    dimension; rows with no matching layer are dropped with a warning
    channel (FL7's layer-metadata guard: tilecloud_chain/generate.py:278-283
    drops queue messages without a known layer)."""
    return tiles.join(broadcast(config), on, "inner")


def dimension_fanout(tiles: DataFrame, dimensions: dict[str, tuple[str, ...]]) -> DataFrame:
    """P3/J2 — cartesian product with declared dimension values
    (``get_all_dimensions`` tilecloud_chain/__init__.py:1321-1338); each
    dimension becomes a ``dimension_<name>`` column."""
    out = tiles
    for name, values in dimensions.items():
        out = out.withColumn(
            f"dimension_{name}", F.explode(F.array(*[F.lit(v) for v in values]))
        )
    return out


def strip_reserved_params(params: F.Column) -> F.Column:
    """SE3 — remove reserved WMS keys from a MAP<STRING,STRING> column
    (generate.py:536-545) via map_filter (JVM-side)."""
    return F.map_filter(params, lambda k, _: ~F.upper(k).isin(*RESERVED_PARAMS))


#: hostname of an http(s)/wms URL — identical regex semantics in Spark
#: (Java) and DuckDB (RE2-ish), so the oracle reuses the pattern verbatim
HOST_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)"


def host_limit_slots(
    df: DataFrame,
    limits: dict[str, int],
    default_concurrent: int = 10,
    url_col: str = "url",
    id_col: str = "cell",
    enforce: bool = True,
) -> DataFrame:
    """Per-host concurrency limiting — the batch-engine analog of the
    reference's per-hostname fetch semaphores (``URLTileStore``,
    /root/reference/tilecloud_chain/store/url.py:43-117: an
    ``asyncio.Semaphore(limit)`` per URL hostname, with the per-host
    ``hosts.<name>.concurrent`` override falling back to
    ``default.concurrent`` — host-limit-schema.json / HOST_LIMIT.md).

    Under Spark, concurrency is task parallelism, so the semaphore becomes
    STRUCTURE: every row gets a deterministic ``slot = pmod(id, limit)``
    for its host's limit, and (with ``enforce=True``) the frame is
    repartitioned by (host, slot). A hash repartition never splits one
    (host, slot) group across partitions, so at most ``limit`` concurrent
    tasks can ever hold rows of one host — the semaphore's bound — while
    distinct groups that co-locate into one partition only REDUCE
    concurrency (the safe direction). No driver state, no Python; the
    slot assignment is pure column math with an exact SQL oracle.

    Output columns: input + (host, concurrent, slot)."""
    bad = {h: v for h, v in limits.items() if int(v) < 1}
    if bad or int(default_concurrent) < 1:
        # a 0 limit (the Semaphore(0) 'block this host' analog) would reach
        # pmod(id, 0) — a mid-job ANSI DIVIDE_BY_ZERO on an executor; block
        # a host by filtering its rows out instead, and fail fast here
        raise ValueError(
            f"concurrency limits must be >= 1 (block hosts by filtering, "
            f"not limit 0): bad={bad or {'default': default_concurrent}}"
        )
    host = F.regexp_extract(F.col(url_col), HOST_PATTERN, 1)
    limit_expr = F.lit(int(default_concurrent))
    for name, lim in sorted(limits.items()):
        limit_expr = F.when(host == name, F.lit(int(lim))).otherwise(limit_expr)
    out = df.withColumn("host", host).withColumn(
        "concurrent", limit_expr.cast("int")
    ).withColumn("slot", F.pmod(F.col(id_col), F.col("concurrent")).cast("int"))
    if enforce:
        out = out.repartition(F.col("host"), F.col("slot"))
    return out
