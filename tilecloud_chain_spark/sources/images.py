"""Synthetic image+caption table source (BASELINE.json input_hint).

Builds the ``(image_id, bytes, w, h, fmt, caption, phash, x, y)`` table
deterministically and *distributed*: ``spark.range`` drives id generation and
pixel synthesis/encoding runs inside ``mapInPandas`` — the driver never sees
a pixel. Positions (x, y) are derived from the id by a multiplicative-hash
scatter into the grid bbox, so spatial tests are reproducible across engines
(the same arithmetic is expressible in ANSI SQL for the DuckDB oracle).

At production scale this table is Iceberg; in this sandbox it persists as
parquet with the same schema (see ``checkpoint`` module for the table-format
notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tilecloud_chain_spark.config import Grid
from tilecloud_chain_spark.functions import image as IMG

# Knuth multiplicative hashes used to scatter ids into the bbox; kept as
# plain integer arithmetic so DuckDB oracles can replicate positions exactly.
_HX = 2654435761
_HY = 2246822519
_MOD = 1 << 32


def position_exprs(id_col, grid: Grid):
    """(x, y) scatter of an integer id into the grid bbox — same formula the
    oracle SQL uses: ((id*H) % 2^32) / 2^32 * extent + origin."""
    fx = (id_col * F.lit(_HX)) % F.lit(_MOD) / F.lit(float(_MOD))
    fy = (id_col * F.lit(_HY)) % F.lit(_MOD) / F.lit(float(_MOD))
    x = F.lit(grid.bbox[0]) + fx * F.lit(grid.bbox[2] - grid.bbox[0])
    y = F.lit(grid.bbox[1]) + fy * F.lit(grid.bbox[3] - grid.bbox[1])
    return x.alias("x"), y.alias("y")


def synth_images(
    spark: SparkSession,
    count: int,
    grid: Grid,
    size: int = 32,
    fmt: str = "png",
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic image table of ``count`` rows, pixels ``size×size``."""
    import pandas as pd

    partitions = partitions or max(
        1, min(spark.sparkContext.defaultParallelism * 2, count // 256 + 1)
    )
    base = spark.range(0, count, 1, partitions)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
            for i in ids:
                i = int(i)
                px = IMG.synth_pixels(i, size, size)
                data = IMG.encode(px, fmt)
                rows["image_id"].append(f"img{i:012d}")
                rows["bytes"].append(data)
                rows["w"].append(size)
                rows["h"].append(size)
                rows["fmt"].append(fmt)
                rows["caption"].append(IMG.synth_caption(f"img{i:012d}", i))
                rows["phash"].append(IMG.phash64(px))
            out = pd.DataFrame(rows)
            out["id"] = ids
            yield out

    df = base.mapInPandas(
        gen,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long, id long",
    )
    x, y = position_exprs(F.col("id"), grid)
    return df.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash", x, y)
