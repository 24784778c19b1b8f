"""WMTS grid math as pure Spark Column expressions.

Every formula here is the reference's tile-coordinate arithmetic re-expressed
JVM-side so Catalyst keeps it inside whole-stage codegen (no Python in the hot
path):

- tile/metatile span, x/y index (y counts down from bbox top):
  /root/reference/tilecloud_chain/__init__.py:457-491,520-547
- matrix width/height: tilecloud_chain/__init__.py:533-534,818-819 and
  templates/wmts_get_capabilities.jinja:206-222
- metatile anchoring floor(x/n)*n: tilecloud_chain/__init__.py:599-602,
  server.py:696-707
- tile extent (inverse map, optional px border): usage sites
  tilecloud_chain/__init__.py:2670-2672, store/mapnik_.py:69
- ScaleDenominator = resolution / 0.00028:
  templates/wmts_get_capabilities.jinja:217
- LocalProcessFilter modulo expression: tilecloud_chain/__init__.py:2614-2634
- int64 cell key (H3/S2-analog hierarchical key over the pyramid): ours,
  mandated by BASELINE.json north_rule.

All helpers accept/return ``pyspark.sql.Column``; grid scalars are baked in as
literals at plan time (the Spark analog of the reference's broadcast config).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from tilecloud_chain_spark.config import Grid

# int64 cell key layout: 5 bits zoom | 29 bits x | 29 bits y (x, y < 2^29
# covers any realistic matrix; zoom < 32).
_XY_BITS = 29
_Y_MASK = (1 << _XY_BITS) - 1


def cell_key(z: Column, x: Column, y: Column) -> Column:
    """Pack (z, x, y) into one int64 join/partition key."""
    return (
        (z.cast("long") * F.lit(1 << (2 * _XY_BITS)))
        + (x.cast("long") * F.lit(1 << _XY_BITS))
        + y.cast("long")
    ).alias("cell")


def cell_unpack(cell: Column) -> tuple[Column, Column, Column]:
    """Inverse of :func:`cell_key` — pure integer shifts/masks (float
    division would round the long→double conversion for x ≥ 2^24 and give
    off-by-one unpacks on matrices wider than ~16.7M tiles)."""
    mask = F.lit(_Y_MASK)
    z = F.shiftrightunsigned(cell, 2 * _XY_BITS).cast("int").alias("z")
    x = F.shiftrightunsigned(cell, _XY_BITS).bitwiseAND(mask).cast("int").alias("x")
    y = cell.bitwiseAND(mask).cast("int").alias("y")
    return z, x, y


def resolution_col(grid: Grid, z: Column) -> Column:
    """resolution[z] via an array literal (zoom = index into the descending
    resolutions list, configuration.py:987-994)."""
    arr = F.array(*[F.lit(float(r)) for r in grid.resolutions])
    return F.element_at(arr, z.cast("int") + 1)


def span_col(grid: Grid, z: Column, n: Column | int = 1) -> Column:
    """Tile (n=1) or metatile edge length in grid meters at zoom z."""
    n_col = F.lit(n) if isinstance(n, int) else n
    return resolution_col(grid, z) * F.lit(float(grid.tile_size)) * n_col


def tile_x(grid: Grid, z: Column, x_m: Column) -> Column:
    """Point x (meters) -> tile column index: floor((x - minx) / span)."""
    return F.floor((x_m - F.lit(grid.bbox[0])) / span_col(grid, z)).cast("int")


def tile_y(grid: Grid, z: Column, y_m: Column) -> Column:
    """Point y (meters) -> tile row index counting DOWN from bbox.maxy."""
    return F.floor((F.lit(grid.bbox[3]) - y_m) / span_col(grid, z)).cast("int")


def matrix_width(grid: Grid, z: Column, n: Column | int = 1) -> Column:
    return F.ceil(F.lit(grid.bbox[2] - grid.bbox[0]) / span_col(grid, z, n)).cast("int")


def matrix_height(grid: Grid, z: Column, n: Column | int = 1) -> Column:
    return F.ceil(F.lit(grid.bbox[3] - grid.bbox[1]) / span_col(grid, z, n)).cast("int")


def metatile_anchor(xy: Column, n: Column | int) -> Column:
    """Tile index -> owning metatile anchor index: floor(xy/n)*n."""
    n_col = F.lit(n) if isinstance(n, int) else n
    return (F.floor(xy / n_col) * n_col).cast("int")


def tile_extent(
    grid: Grid,
    z: Column,
    x: Column,
    y: Column,
    n: Column | int = 1,
    border_px: Column | float = 0.0,
) -> tuple[Column, Column, Column, Column]:
    """z/x/y(/n) -> (minx, miny, maxx, maxy) Columns, with optional pixel
    border expansion (border * resolution meters)."""
    s = span_col(grid, z)
    n_col = F.lit(n) if isinstance(n, int) else n
    b_col = F.lit(float(border_px)) if isinstance(border_px, (int, float)) else border_px
    b = b_col * resolution_col(grid, z)
    minx = F.lit(grid.bbox[0]) + x * s - b
    maxx = F.lit(grid.bbox[0]) + (x + n_col) * s + b
    maxy = F.lit(grid.bbox[3]) - y * s + b
    miny = F.lit(grid.bbox[3]) - (y + n_col) * s - b
    return (
        minx.alias("tminx"),
        miny.alias("tminy"),
        maxx.alias("tmaxx"),
        maxy.alias("tmaxy"),
    )


def scale_denominator(grid: Grid, z: Column) -> Column:
    """OGC 0.28mm/px scale denominator."""
    return resolution_col(grid, z) / F.lit(0.00028)


def matrix_identifier(grid: Grid, z: Column) -> Column:
    """How a matrix level is named in WMTS URLs: zoom index or the resolution
    value (``get_tile_matrix_identifier``, tilecloud_chain/__init__.py:239-252:
    resolutions formatted with trailing '.0'->'' and '.'->'_')."""
    if grid.matrix_identifier == "zoom":
        return z.cast("string")
    arr = F.array(
        *[
            F.lit(str(int(r)) if float(r).is_integer() else str(r).replace(".", "_"))
            for r in grid.resolutions
        ]
    )
    return F.element_at(arr, z.cast("int") + 1)


def process_filter_keep(
    z: Column, x: Column, y: Column, n: Column | int, nb_process: int, process_nb: int
) -> Column:
    """LocalProcessFilter predicate: round(z + x/n + y/n) % nb == process_nb
    (tilecloud_chain/__init__.py:2614-2634). Kept for parity tests — under
    Spark this IS ``repartition``; see operators.filters.

    The reference uses Python ``round()`` = round-half-to-EVEN, while Spark's
    ``F.round`` is HALF_UP — they disagree exactly when the fraction is .5
    (x+y ≡ n/2 mod n), so the .5 case is handled explicitly: floor if floor
    is even, else floor+1."""
    n_col = F.lit(n) if isinstance(n, int) else n
    v = z + x / n_col + y / n_col
    fl = F.floor(v)
    nb = F.when(v - fl == F.lit(0.5), fl + (fl % F.lit(2))).otherwise(
        F.round(v).cast("long")
    ).cast("long")
    return nb % F.lit(nb_process) == F.lit(process_nb)


def wmts_path(
    grid: Grid,
    layer: Column,
    style: Column,
    dims: Column | None,
    z: Column,
    x: Column,
    y: Column,
    ext: Column,
) -> Column:
    """WMTS REST storage path
    ``1.0.0/{layer}/{style}/{dims…}/{matrixset}/{z}/{y}/{x}.{ext}``
    (tilecloud_chain/__init__.py:1354-1363). NOTE the reference path order is
    row-then-column (y before x)."""
    pieces = [F.lit("1.0.0"), layer, style]
    if dims is not None:
        pieces.append(dims)
    pieces += [
        F.lit(grid.name),
        matrix_identifier(grid, z),
        y.cast("string"),
        x.cast("string"),
    ]
    return F.concat(F.concat_ws("/", *pieces), F.lit("."), ext)


def feature_info_point(grid: Grid, z: Column, x: Column, y: Column,
                       i: Column, j: Column) -> tuple[Column, Column]:
    """GetFeatureInfo pixel -> map coordinate. The reference proxies WMTS
    (TILEROW/TILECOL, I, J) to WMS GetFeatureInfo with BBOX = the tile's
    extent, WIDTH = HEIGHT = tile_size, X = I, Y = J
    (server.py:612-662) — so the queried map point is the tile origin plus
    I pixels right / J pixels down at the zoom's resolution."""
    res = resolution_col(grid, z)
    ts = F.lit(grid.tile_size)
    x_m = F.lit(grid.bbox[0]) + (x * ts + i) * res
    y_m = F.lit(grid.bbox[3]) - (y * ts + j) * res
    return x_m.alias("x_m"), y_m.alias("y_m")
