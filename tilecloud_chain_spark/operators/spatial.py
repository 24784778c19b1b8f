"""Spatial join / kNN / cell-index operators (SURVEY.md §2.5 J4 — mandated
by BASELINE.json, no counterpart in the reference).

The hierarchical cell index IS the WMTS pyramid: a tile (z, x, y) is a cell;
``functions.gridmath.cell_key`` packs it into one int64 for joins and
partitioning (the H3/S2 analog for a projected grid — same role: equal-sized
hierarchical cells, neighbor rings, parent/child by integer division).

Scale design (100 TB story):
- point->tile assignment is pure column math (no shuffle at all);
- the image↔tile equi-join shuffles on ``cell`` — ``salted_repartition``
  spreads hot cells (dense metros) across ``salt`` sub-partitions, and AQE
  skew-join splitting backstops residual skew;
- kNN: queries are small -> broadcast; candidate pruning expands each query
  to its (2r+1)² neighbor-ring cells and joins on cell (only points in
  nearby cells are examined), then a window ranks by true distance. The
  brute-force variant is the exactness oracle.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast

from tilecloud_chain_spark.config import Grid
from tilecloud_chain_spark.functions import gridmath as GM


def assign_tiles(
    df: DataFrame,
    grid: Grid,
    zooms: Iterable[int],
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Point rows -> one row per (row, zoom) with tile indices + cell key.

    Pure Column arithmetic (floor math from
    /root/reference/tilecloud_chain/__init__.py:457-491) — stays inside
    whole-stage codegen; the zoom fan-out is an ``explode`` of a tiny array.
    Indices are clamped to the matrix so points exactly on the max edge
    land in the last tile.
    """
    zdf = df.withColumn("z", F.explode(F.array(*[F.lit(int(z)) for z in zooms])))
    tx = GM.tile_x(grid, F.col("z"), F.col(x_col))
    ty = GM.tile_y(grid, F.col("z"), F.col(y_col))
    w = GM.matrix_width(grid, F.col("z"))
    h = GM.matrix_height(grid, F.col("z"))
    out = zdf.withColumn("tx", F.least(F.greatest(tx, F.lit(0)), w - 1)).withColumn(
        "ty", F.least(F.greatest(ty, F.lit(0)), h - 1)
    )
    return out.withColumn("cell", GM.cell_key(F.col("z"), F.col("tx"), F.col("ty")))


def salted_repartition(
    df: DataFrame,
    partitions: int,
    salt: int,
    key_cols: Iterable[str],
    salt_from: Iterable[str] | None = None,
) -> DataFrame:
    """Skew-aware repartition: hash(key, salt_bucket) so one hot key spreads
    over ``salt`` sub-partitions. The salt derives deterministically from
    ``salt_from`` columns (default: every column), so task retries reproduce
    the same placement and lineage rows (which record the salt —
    FIXTURES.md §5) stay meaningful."""
    src = list(salt_from) if salt_from is not None else list(df.columns)
    df = df.withColumn(
        "salt", F.pmod(F.xxhash64(*[F.col(c) for c in src]), F.lit(salt)).cast("int")
    )
    return df.repartition(partitions, *[F.col(c) for c in key_cols], F.col("salt"))


def ring_cells(
    queries: DataFrame,
    grid: Grid,
    zoom: int,
    ring: int,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Expand each query point to its (2*ring+1)² neighbor-ring cells at
    ``zoom`` (kRing analog on the tile grid), clamped to the matrix."""
    w, h = grid.matrix_size(zoom)
    q = queries.withColumn("z", F.lit(zoom))
    q = q.withColumn("qtx", GM.tile_x(grid, F.col("z"), F.col(x_col)))
    q = q.withColumn("qty", GM.tile_y(grid, F.col("z"), F.col(y_col)))
    q = q.withColumn("ddx", F.explode(F.sequence(F.lit(-ring), F.lit(ring))))
    q = q.withColumn("ddy", F.explode(F.sequence(F.lit(-ring), F.lit(ring))))
    q = q.select(
        *queries.columns,
        (F.col("qtx") + F.col("ddx")).alias("ntx"),
        (F.col("qty") + F.col("ddy")).alias("nty"),
    ).filter(
        (F.col("ntx") >= 0) & (F.col("ntx") < w) & (F.col("nty") >= 0) & (F.col("nty") < h)
    )
    return q.withColumn("cell", GM.cell_key(F.lit(zoom), F.col("ntx"), F.col("nty")))


def knn_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "image_id",
    qid_col: str = "qid",
) -> DataFrame:
    """Exact kNN: broadcast the (small) query set against every point and
    rank by Euclidean distance. Deterministic tie-break on the point id.
    Output: qid, image_id, dist, rank (rank <= k)."""
    from pyspark.sql.window import Window

    p = points.select(
        F.col(id_col), F.col("x").alias("px"), F.col("y").alias("py")
    )
    q = queries.select(F.col(qid_col), F.col("x").alias("qx"), F.col("y").alias("qy"))
    joined = p.crossJoin(broadcast(q))
    dist = F.sqrt(
        (F.col("px") - F.col("qx")) ** 2 + (F.col("py") - F.col("qy")) ** 2
    ).alias("dist")
    win = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        joined.select(qid_col, id_col, dist)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
    )


def knn_cells(
    points: DataFrame,
    queries: DataFrame,
    grid: Grid,
    zoom: int,
    k: int,
    ring: int = 1,
    id_col: str = "image_id",
    qid_col: str = "qid",
) -> DataFrame:
    """Cell-pruned kNN: join points to the queries' neighbor-ring cells at
    ``zoom`` and rank by true distance within candidates.

    Exact whenever the true k-th neighbor lies within ``ring`` cells of the
    query's cell (guaranteed when k-th distance < ring * span(zoom)); the
    companion test cross-checks against :func:`knn_bruteforce`. At scale
    this replaces the full scan with a broadcast-hash join touching only
    nearby cells.
    """
    from pyspark.sql.window import Window

    p = assign_tiles(points, grid, [zoom]).select(
        F.col(id_col), F.col("x").alias("px"), F.col("y").alias("py"), "cell"
    )
    q = ring_cells(queries, grid, zoom, ring).select(
        F.col(qid_col), F.col("x").alias("qx"), F.col("y").alias("qy"), "cell"
    )
    joined = p.join(broadcast(q), "cell")
    dist = F.sqrt(
        (F.col("px") - F.col("qx")) ** 2 + (F.col("py") - F.col("qy")) ** 2
    ).alias("dist")
    win = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        joined.select(qid_col, id_col, dist)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
    )


def knn_adaptive(
    points: DataFrame,
    queries: DataFrame,
    grid: Grid,
    zoom: int,
    k: int,
    ring: int = 1,
    id_col: str = "image_id",
    qid_col: str = "qid",
) -> DataFrame:
    """Exact kNN with adaptive ring escalation: run :func:`knn_cells` at
    ring r, keep the queries whose answer is PROVEN complete (>= k
    candidates and k-th distance < r * span — any point outside ring r is
    at distance >= r * span), and double the ring for the rest until the
    ring covers the whole matrix. Fixes the fixed-ring failure mode where a
    sparse region silently returns < k rows.

    The escalation loop is driver-side CONTROL FLOW only — no query data is
    ever collected to the driver. One BLOCKING materialization per round:
    the round's result ``out`` is eagerly ``localCheckpoint``-ed (it is
    referenced by both the done-filter and the final union; an
    uncheckpointed plan would re-run the cell join per reference).
    ``done`` is NOT checkpointed — it is a cheap aggregation over the
    already-checkpointed ``out`` — and ``remaining`` checkpoints LAZILY,
    piggybacking on the emptiness-check action that runs anyway (a full
    ``count()``, never ``limit(1)``: a partial action would checkpoint only
    the computed partitions and later scans would hit missing blocks).
    Resolved queries are removed with a broadcast **left-anti join** (never
    ``collect()`` + ``isin`` — at millions of queries the IN-list literal
    alone blows up the plan). Property-tested equal to
    :func:`knn_bruteforce` on adversarially clustered data.
    """
    w, h = grid.matrix_size(zoom)
    span = grid.span(zoom)
    max_ring = max(w, h)  # ring covering every cell from any position
    remaining = queries
    pieces = []
    r = max(1, int(ring))
    while True:
        out = knn_cells(points, remaining, grid, zoom, k, ring=r,
                        id_col=id_col, qid_col=qid_col).localCheckpoint(eager=True)
        if r >= max_ring:
            pieces.append(out)
            break
        stats = out.groupBy(qid_col).agg(
            F.max("rank").alias("n"), F.max("dist").alias("kth")
        )
        done = stats.filter(
            (F.col("n") >= k) & (F.col("kth") < F.lit(float(r) * span))
        ).select(qid_col)
        pieces.append(out.join(broadcast(done), qid_col, "left_semi"))
        remaining = remaining.join(
            broadcast(done), qid_col, "left_anti"
        ).localCheckpoint(eager=False)
        if remaining.count() == 0:
            break
        r *= 2
    result = pieces[0]
    for p in pieces[1:]:
        result = result.unionAll(p)
    return result
