"""Legend generation + per-resolution dedup (SURVEY §2 A6; reference
``controller.py:318-378``).

The reference fetches one GetLegendGraphic per WMS sub-layer per resolution,
stacks them vertically into one image, sha1-hashes the encoded bytes and
keeps a resolution's legend only when the hash CHANGES from the previous
resolution; consecutive kept entries split the resolution axis at the
geometric mean (``exp((log(r1)+log(r2))/2)`` — controller.py:372-375), and
the stored path is ``1.0.0/{layer}/{style}/legend-{resolution}.{ext}``.

Here the WMS GetLegendGraphic FETCH is replaced by a deterministic synthetic
renderer (no network in this engine — clearly a stand-in), but everything
downstream is real: real PNG bytes from the numpy codec, real sha1 over
those bytes, the real lag-window collapse and geometric-mean boundaries.
Rendering runs distributed (one Arrow batch per partition of the resolution
list); the collapse is a single ordered window over ~len(resolutions) rows.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tilecloud_chain_spark.config import Grid, Layer
from tilecloud_chain_spark.functions import image as IMG
from tilecloud_chain_spark.session import local_frame

SWATCH_W, SWATCH_H = 48, 16


def visible_classes(resolution: float) -> int:
    """How many style classes the (synthetic) style sheet shows at a given
    scale — coarser maps show fewer classes, so successive resolutions in
    the same band produce byte-identical legends (the case A6 collapses)."""
    if resolution >= 50:
        return 2
    if resolution >= 10:
        return 4
    return 6


def legend_pixels(layer_name: str, resolution: float) -> np.ndarray:
    """Deterministic stacked legend image: one color swatch per visible
    class, color derived from md5(layer, class) — the stand-in for the
    fetched + vertically-pasted GetLegendGraphic images."""
    n = visible_classes(resolution)
    rows = []
    for i in range(n):
        d = hashlib.md5(f"{layer_name}:{i}".encode()).digest()
        swatch = np.zeros((SWATCH_H, SWATCH_W, 3), dtype=np.uint8)
        swatch[:, :, 0], swatch[:, :, 1], swatch[:, :, 2] = d[0], d[1], d[2]
        swatch[0, :, :] = 0  # separator line, like stacked legend images
        rows.append(swatch)
    return np.concatenate(rows, axis=0)


def legend_metadata(
    spark: SparkSession, layer: Layer, grid: Grid, fmt: str = "png"
) -> DataFrame:
    """Per-kept-resolution legend rows:
    (z, resolution, legend_hash, path, width, height, n_bytes,
    min_resolution, max_resolution) — hash-collapsed exactly like the
    reference (lag window on REAL image-byte sha1; geometric-mean
    boundaries)."""
    import pandas as pd

    name, style, ext = layer.name, layer.wmts_style, layer.extension

    def render(batches):
        for pdf in batches:
            out = {"z": [], "resolution": [], "legend_hash": [],
                   "width": [], "height": [], "n_bytes": []}
            for z, res in zip(pdf["z"], pdf["resolution"]):
                px = legend_pixels(name, float(res))
                data = IMG.encode(px, fmt)
                out["z"].append(int(z))
                out["resolution"].append(float(res))
                out["legend_hash"].append(hashlib.sha1(data).hexdigest())  # noqa: S324
                out["width"].append(px.shape[1])
                out["height"].append(px.shape[0])
                out["n_bytes"].append(len(data))
            yield pd.DataFrame(out)

    base = local_frame(
        spark,
        [(z, float(r)) for z, r in enumerate(grid.resolutions)],
        "z int, resolution double",
    )
    rendered = base.mapInPandas(
        render,
        "z int, resolution double, legend_hash string, width int, height int, n_bytes int",
    )
    # ascending-resolution traversal like the reference's sorted(all_resolutions)
    win = Window.orderBy(F.col("resolution").asc())
    kept = (
        rendered.withColumn("prev_hash", F.lag("legend_hash").over(win))
        .filter(F.col("prev_hash").isNull() | (F.col("prev_hash") != F.col("legend_hash")))
        .drop("prev_hash")
    )
    kwin = Window.orderBy(F.col("resolution").asc())
    mid_prev = F.exp((F.log(F.lag("resolution").over(kwin)) + F.log("resolution")) / 2)
    mid_next = F.exp((F.log("resolution") + F.log(F.lead("resolution").over(kwin))) / 2)
    return kept.select(
        "z", "resolution", "legend_hash", "width", "height", "n_bytes",
        F.round(mid_prev, 6).alias("min_resolution"),
        F.round(mid_next, 6).alias("max_resolution"),
        F.concat(
            F.lit(f"1.0.0/{name}/{style}/legend-"),
            F.when(F.col("resolution") == F.col("resolution").cast("long").cast("double"),
                   F.col("resolution").cast("long").cast("string"))
            .otherwise(F.col("resolution").cast("string")),
            F.lit(f".{ext}"),
        ).alias("path"),
    )
