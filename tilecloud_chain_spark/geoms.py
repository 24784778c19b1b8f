"""Per-zoom geometry-restriction resolution (SURVEY.md §1.3, §2.1 S7).

Port of the reference's ``get_geoms`` semantics
(/root/reference/tilecloud_chain/__init__.py:1678-1813):

1. base extent = CLI bbox / near-window, else layer bbox, else grid bbox —
   always a rectangle Polygon assigned to EVERY zoom (:1757-1768);
2. optionally refined per zoom by geometry rows loaded from a table
   (PostGIS ``ST_AsBinary`` scan :1838-1910 / OGR datasource :1944-2014 in
   the reference; here any DataFrame/iterable of WKT rows — e.g. a JDBC
   read — since geoms are small and broadcast), unioned (:1910),
   intersected with the extent (:1792-1802), and gated by per-source
   ``min_resolution``/``max_resolution`` (:1803-1807);
3. reprojection between layer and grid CRS when they differ (:1887-1903):
   delegated to :mod:`tilecloud_chain_spark.crs` — exact numpy
   implementations of the CRS the reference's fixtures/tests use
   (4326/3857/21781/2056 + their proj4 literals); genuinely arbitrary EPSG
   codes raise NotImplementedError (would need pyproj, absent here).
"""

from __future__ import annotations

from collections.abc import Iterable

from tilecloud_chain_spark import crs
from tilecloud_chain_spark.config import Grid, Layer
from tilecloud_chain_spark.geometry import Geom, box_geom, parse_wkt, union


def transform_bbox(
    src_srs: str, dst_srs: str, bbox: tuple[float, float, float, float]
) -> tuple[float, float, float, float]:
    """SC2 — bbox reprojection (normalizing + edge-densified envelope, the
    reference's ``transform_bbox`` semantics)."""
    return crs.transform_bbox(src_srs, dst_srs, bbox)


def transform_geom(src_srs: str, dst_srs: str, geom: Geom) -> Geom:
    """Reproject every vertex of a (multi-part) geometry — driver-side
    numpy, geometries are small and broadcast (reference ``get_geoms``
    reprojection, tilecloud_chain/__init__.py:1887-1903)."""
    import numpy as np

    if crs._resolve(src_srs) == crs._resolve(dst_srs):
        return geom

    def tx(arr2d):
        x, y = crs.transform_coords(src_srs, dst_srs, arr2d[:, 0], arr2d[:, 1])
        return np.column_stack([x, y])

    parts = []
    for kind, payload in geom.parts:
        if kind == "point":
            x, y = crs.transform_coords(src_srs, dst_srs, payload[0], payload[1])
            parts.append((kind, np.array([float(x), float(y)])))
        elif kind == "line":
            parts.append((kind, tx(payload)))
        else:
            parts.append((kind, [tx(r) for r in payload]))
    return Geom(parts)


def resolve_geoms(
    grid: Grid,
    layer: Layer,
    geom_rows: Iterable[dict] | None = None,
    cli_bbox: tuple[float, float, float, float] | None = None,
    zooms: Iterable[int] | None = None,
    layer_srs: str | None = None,
) -> dict[int, Geom]:
    """Build the per-zoom restriction geometry dict.

    ``geom_rows``: iterable of {"wkt": str, "min_resolution": float|None,
    "max_resolution": float|None} (the collected result of a PostGIS/OGR/
    JDBC scan — geoms are small, loaded driver-side and broadcast, like the
    reference's mtime-cached geoms). ``layer_srs``: SRS of the WKT rows —
    when it differs from ``grid.srs`` the geometries are reprojected before
    clipping (reference tilecloud_chain/__init__.py:1887-1903).
    """
    zooms = list(zooms if zooms is not None else range(len(grid.resolutions)))
    extent_bbox = cli_bbox or layer.bbox or grid.bbox
    extent = box_geom(*extent_bbox)

    out: dict[int, Geom] = {z: extent for z in zooms}
    rows = list(geom_rows) if geom_rows is not None else (
        [{"wkt": layer.geom_wkt}] if layer.geom_wkt else []
    )
    if not rows:
        return out

    # Reference semantics (tilecloud_chain/__init__.py:1803-1807): each
    # applicable source REPLACES geoms[z] — the LAST applicable entry wins
    # per zoom, it is NOT a union across entries. (A single entry may still
    # be a multi-part geometry.) Zooms with no applicable entry keep the
    # plain extent rectangle.
    def _load(wkt: str) -> Geom:
        g = parse_wkt(wkt)
        if layer_srs and layer_srs != grid.srs:
            g = transform_geom(layer_srs, grid.srs, g)
        return g.clip_to_box(extent_bbox)

    parsed = [
        (_load(r["wkt"]), r.get("min_resolution"), r.get("max_resolution"))
        for r in rows
    ]
    for z in zooms:
        res = float(grid.resolutions[z])
        for geom, min_r, max_r in parsed:
            if (min_r is None or min_r <= res) and (max_r is None or max_r >= res):
                out[z] = geom
    return out
