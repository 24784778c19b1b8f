"""Expire-tiles import analog (reference ``expiretiles.py:118-185``):
tile list -> union of tile extents -> merged MultiPolygon.

The reference reads ``z/x/y`` lines, builds one shapely box per tile on the
global web-mercator QuadTileGrid and ``unary_union``s them into a
MultiPolygon (adjacent tiles fuse into one ring; the ring KEEPS the
collinear lattice corners along straight runs — pinned by the reference's
own expected coordinates in tests/test_expiretiles.py:118-141).

Spark-first shape: tiles normalize to the finest-zoom integer lattice and
the boundary-edge extraction is four anti-joins (an edge is boundary iff the
neighboring cell is absent) — fully distributed, output is O(perimeter).
Only the stitched rings (tiny) are collected; ring chaining is driver-side.
At 100 TB the tile list is billions of rows but the merged boundary of a
contiguous expire region stays small; a pathological scatter degenerates to
one rectangle ring per tile, which is the same O(n) the reference pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tilecloud_chain_spark.session import local_frame

# the QuadTileGrid max_extent the reference passes (expiretiles.py:121);
# its golden coordinates back-solve to exactly this 2-decimal literal
WORLD = 20037508.34


def boundary_edges(tiles: DataFrame) -> DataFrame:
    """Directed boundary unit-edges of the tile-cell union, on the finest
    zoom's lattice. Input columns: z, x, y. Output: (x1, y1, x2, y2, zmax)
    lattice corner indices (j/y increases downward, tile-row order).

    Direction convention: walking the edge keeps the filled cell on the
    side that makes exterior rings clockwise in geographic coordinates —
    the orientation of the reference's union output."""
    zrange = tiles.agg(F.max("z").alias("zmax"), F.min("z").alias("zmin")).collect()[0]
    zmax = zrange["zmax"]
    if zmax is None:
        return local_frame(
            tiles.sparkSession, [], "x1 long, y1 long, x2 long, y2 long, zmax int"
        )
    if zmax - zrange["zmin"] > 10:
        # a z-spread of s expands each coarse tile into 4^s lattice cells;
        # expire lists are same-zoom in practice (osm2pgsql emits one zoom)
        raise ValueError(
            f"expire tile zoom spread {zrange['zmin']}..{zmax} too wide: the "
            f"dyadic expansion would be 4^{zmax - zrange['zmin']} cells per "
            "coarse tile — split the input by zoom band"
        )
    # dyadic expansion of coarser tiles onto the zmax lattice
    factor = F.expr(f"shiftleft(CAST(1 AS BIGINT), {int(zmax)} - z)")
    k = F.explode(F.sequence(F.lit(0), factor * factor - 1)).alias("k")
    cells = (
        tiles.select((F.col("x") * factor).alias("bx"),
                     (F.col("y") * factor).alias("by"), factor.alias("f"), k)
        .select((F.col("bx") + F.col("k") % F.col("f")).alias("cx"),
                (F.col("by") + (F.col("k") / F.col("f")).cast("long")).alias("cy"))
        .distinct()
    )
    # Each cell emits its 4 directed side-edges; an edge INTERIOR to the
    # union is emitted exactly twice (once by each adjacent cell, opposite
    # directions), a boundary edge exactly once — so boundary extraction is
    # ONE groupBy on the undirected edge key keeping count==1 (single
    # shuffle; the naive formulation is four self-anti-joins = four
    # shuffles of the full cell set, which loses badly at 10^9 cells).
    sides = [
        ("cx", "cy", "cx+1", "cy"),          # top
        ("cx+1", "cy", "cx+1", "cy+1"),      # right
        ("cx+1", "cy+1", "cx", "cy+1"),      # bottom
        ("cx", "cy+1", "cx", "cy"),          # left
    ]
    edge_structs = F.array(*[
        F.struct(
            F.expr(x1).alias("x1"), F.expr(y1).alias("y1"),
            F.expr(x2).alias("x2"), F.expr(y2).alias("y2"),
            F.least(F.expr(x1) * F.lit(1 << 31) + F.expr(y1),
                    F.expr(x2) * F.lit(1 << 31) + F.expr(y2)).alias("ka"),
            F.greatest(F.expr(x1) * F.lit(1 << 31) + F.expr(y1),
                       F.expr(x2) * F.lit(1 << 31) + F.expr(y2)).alias("kb"),
        )
        for x1, y1, x2, y2 in sides
    ])
    edges = cells.select(F.explode(edge_structs).alias("e")).select("e.*")
    boundary = (
        edges.groupBy("ka", "kb")
        .agg(F.count("*").alias("n"),
             F.first("x1").alias("x1"), F.first("y1").alias("y1"),
             F.first("x2").alias("x2"), F.first("y2").alias("y2"))
        .filter(F.col("n") == 1)
        .select("x1", "y1", "x2", "y2")
    )
    return boundary.withColumn("zmax", F.lit(zmax))


def _stitch(edges: list[tuple[int, int, int, int]]) -> list[list[tuple[int, int]]]:
    """Chain directed unit edges into closed rings. At pinch vertices where
    two edges leave, take the right-most turn relative to the incoming
    direction — corner-touching tiles stay separate rings (the reference's
    union yields a MultiPolygon there, one polygon per component)."""
    from collections import defaultdict

    out_edges: dict[tuple[int, int], list[tuple[int, int]]] = defaultdict(list)
    for x1, y1, x2, y2 in edges:
        out_edges[(x1, y1)].append((x2, y2))
    unused = {(x1, y1, x2, y2) for x1, y1, x2, y2 in edges}
    rings = []
    while unused:
        start = min(unused)
        x1, y1, x2, y2 = start
        ring = [(x1, y1)]
        unused.discard(start)
        cur, prev = (x2, y2), (x1, y1)
        while cur != ring[0]:
            ring.append(cur)
            dx, dy = cur[0] - prev[0], cur[1] - prev[1]
            # right turn first (in j-down lattice: right of (dx,dy) is
            # (-dy,dx)), then straight, then left, then back
            prefs = [(-dy, dx), (dx, dy), (dy, -dx), (-dx, -dy)]
            nxt = None
            for pdx, pdy in prefs:
                cand = (cur[0] + pdx, cur[1] + pdy)
                if (cur[0], cur[1], cand[0], cand[1]) in unused:
                    nxt = cand
                    break
            if nxt is None:
                raise AssertionError(f"open ring at {cur}")
            unused.discard((cur[0], cur[1], nxt[0], nxt[1]))
            prev, cur = cur, nxt
        rings.append(ring)
    return rings


def _signed_area(ring: list[tuple[int, int]]) -> float:
    s = 0.0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
        s += x1 * y2 - x2 * y1
    return s / 2.0


def _canonical_start(ring: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Rotate so the ring starts at (max i, then min j) — the starting
    corner of the reference's pinned union output."""
    start = max(range(len(ring)), key=lambda k: (ring[k][0], -ring[k][1]))
    return ring[start:] + ring[:start]


def _point_in_ring(pt, ring) -> bool:
    x, y = pt[0] + 0.5, pt[1] + 0.5  # offset off the lattice
    inside = False
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
        if (y1 > y) != (y2 > y) and x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
            inside = not inside
    return inside


def expire_polygons(tiles: DataFrame, max_boundary_edges: int = 2_000_000) -> list[dict]:
    """Merged polygons of the tile union, in lattice corner indices:
    [{"exterior": ring, "holes": [rings], "zmax": int}]. Exterior rings are
    clockwise in geographic coordinates; holes counter-clockwise (the
    complement orientation falls out of the edge direction convention).

    Ring stitching collects the boundary edges to the driver — O(perimeter)
    for the contiguous expire regions this operator exists for, but a fully
    SCATTERED tile list degenerates to one 4-edge rectangle per tile =
    O(n) driver memory. ``max_boundary_edges`` makes that degenerate case
    fail loudly (like the zoom-spread guard in :func:`boundary_edges`)
    instead of OOMing the driver; raise it deliberately if a huge perimeter
    is genuinely expected."""
    boundary = boundary_edges(tiles)
    # limit(cap+1) bounds what ever reaches the driver — detection costs no
    # separate count() action and cannot itself OOM
    rows = boundary.limit(max_boundary_edges + 1).collect()
    if len(rows) > max_boundary_edges:
        raise ValueError(
            f"expire boundary exceeds {max_boundary_edges} edges: the tile "
            "list is too scattered to merge into polygons driver-side (a "
            "fully scattered list yields one rectangle ring per tile — "
            "O(n) edges, not O(perimeter)); pre-cluster the input or raise "
            "max_boundary_edges if the perimeter is genuinely this large"
        )
    if not rows:
        return []
    zmax = rows[0]["zmax"]
    rings = _stitch([(r.x1, r.y1, r.x2, r.y2) for r in rows])
    # exterior rings are clockwise in geo coords (y = -j), which is
    # counter-clockwise = POSITIVE shoelace area on the j-down lattice
    exteriors = [_canonical_start(r) for r in rings if _signed_area(r) > 0]
    holes = [r for r in rings if _signed_area(r) <= 0]
    polys = [{"exterior": ext, "holes": [], "zmax": zmax} for ext in exteriors]
    for hole in holes:
        for poly in polys:
            if _point_in_ring(hole[0], poly["exterior"]):
                poly["holes"].append(hole)
                break
    return polys


def lattice_to_mercator(i, j, zmax: int) -> tuple[float, float]:
    s = 2.0 * WORLD / (1 << zmax)
    return (-WORLD + i * s, WORLD - j * s)


def expire_tiles_wkt(
    tiles: DataFrame, srid: int = 3857, max_boundary_edges: int = 2_000_000
) -> str:
    """The reference CLI's output geometry: MULTIPOLYGON WKT in web-mercator
    (or reprojected to ``srid`` like its ST_Transform insert path — here via
    the numpy CRS kernels). Empty input -> '' (reference prints 'No coords
    found' and inserts nothing)."""
    from tilecloud_chain_spark import crs

    polys = expire_polygons(tiles, max_boundary_edges=max_boundary_edges)
    if not polys:
        return ""
    zmax = polys[0]["zmax"]

    def fmt_ring(ring) -> str:
        pts = []
        for i, j in ring + ring[:1]:
            x, y = lattice_to_mercator(i, j, zmax)
            if srid != 3857:
                x, y = crs.transform_coords("EPSG:3857", f"EPSG:{srid}", x, y)
                x, y = float(x), float(y)
            pts.append(f"{x!r} {y!r}")
        return "(" + ",".join(pts) + ")"

    parts = []
    for p in polys:
        rings = [fmt_ring(p["exterior"])] + [fmt_ring(h) for h in p["holes"]]
        parts.append("(" + ",".join(rings) + ")")
    return "MULTIPOLYGON(" + ",".join(parts) + ")"
