"""Web-Mercator quadkey arithmetic — pure Python/NumPy, no geometry library.

The reference's tile grid is defined as zoom-N quadkeys (reference
custom_data/README.md:227-245; tiles created at impact_analysis.py:770-974),
which makes the hot spatial join (impact_analysis.py:1880-1891, tiles ×
envelopes via GeoPandas sjoin) reducible to an EXACT equi-join:

    tile intersects polygon  ≡  tile_id ∈ quadkey_cover(polygon, zoom)

``polygon_cover`` produces a *mixed-zoom* cover: subtrees fully inside the
polygon are emitted as short quadkey prefixes instead of 4^(N-z) leaves, so
a 1,000-km envelope at zoom 14 covers ~10^3 prefixes instead of ~10^5
leaves — small enough to broadcast for all 408 envelopes of a forecast.
The join side then matches leaves by prefix length (see geo/sjoin.py).

Quadkey scheme (Bing Maps / Microsoft tile system, public spec):
digit at level i selects the quadrant (0=NW, 1=NE, 2=SW, 3=SE).
"""

from __future__ import annotations

import math
from collections.abc import Iterable

MAX_LATITUDE = 85.05112878  # Web-Mercator clamp


def point_to_tile_xy(lat: float, lon: float, zoom: int) -> tuple[int, int]:
    """lat/lon (EPSG:4326) → tile (x, y) at ``zoom``. Closed-form, exact."""
    lat = min(max(lat, -MAX_LATITUDE), MAX_LATITUDE)
    lon = min(max(lon, -180.0), 180.0)
    n = 1 << zoom
    x = int((lon + 180.0) / 360.0 * n)
    sin_lat = math.sin(math.radians(lat))
    y = int((0.5 - math.log((1 + sin_lat) / (1 - sin_lat)) / (4 * math.pi)) * n)
    return min(x, n - 1), min(max(y, 0), n - 1)


def tile_xy_to_quadkey(x: int, y: int, zoom: int) -> str:
    digits = []
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        d = 0
        if x & mask:
            d += 1
        if y & mask:
            d += 2
        digits.append(str(d))
    return "".join(digits)


def quadkey_to_tile_xy(qk: str) -> tuple[int, int, int]:
    """quadkey → (x, y, zoom)."""
    x = y = 0
    zoom = len(qk)
    for i, ch in enumerate(qk):
        mask = 1 << (zoom - i - 1)
        d = int(ch)
        if d & 1:
            x |= mask
        if d & 2:
            y |= mask
    return x, y, zoom


def point_to_quadkey(lat: float, lon: float, zoom: int) -> str:
    x, y = point_to_tile_xy(lat, lon, zoom)
    return tile_xy_to_quadkey(x, y, zoom)


def _tile_lon(x: int, zoom: int) -> float:
    return x / (1 << zoom) * 360.0 - 180.0


def _tile_lat(y: int, zoom: int) -> float:
    n = math.pi - 2.0 * math.pi * y / (1 << zoom)
    return math.degrees(math.atan(0.5 * (math.exp(n) - math.exp(-n))))


def quadkey_to_bbox(qk: str) -> tuple[float, float, float, float]:
    """quadkey → (min_lon, min_lat, max_lon, max_lat) in EPSG:4326."""
    x, y, zoom = quadkey_to_tile_xy(qk)
    return (
        _tile_lon(x, zoom),
        _tile_lat(y + 1, zoom),
        _tile_lon(x + 1, zoom),
        _tile_lat(y, zoom),
    )


def quadkey_center(qk: str) -> tuple[float, float]:
    """quadkey → (lat, lon) of tile center — replaces the reference's
    equal-area centroid step (impact_analysis.py:1023) with exact math."""
    min_lon, min_lat, max_lon, max_lat = quadkey_to_bbox(qk)
    return (min_lat + max_lat) / 2.0, (min_lon + max_lon) / 2.0


def children(qk: str) -> list[str]:
    return [qk + d for d in "0123"]


def _clip_ring_halfplane(ring, keep_west: bool, edge: float):
    """Sutherland–Hodgman clip of one ring against the vertical line
    lon == ``edge`` (keep lon <= edge when keep_west, else lon >= edge)."""
    def inside(p):
        return p[0] <= edge if keep_west else p[0] >= edge

    def intersect(a, b):
        t = (edge - a[0]) / (b[0] - a[0])
        return (edge, a[1] + t * (b[1] - a[1]))

    out = []
    for i, cur in enumerate(ring):
        prev = ring[i - 1]
        if inside(cur):
            if not inside(prev):
                out.append(intersect(prev, cur))
            out.append(cur)
        elif inside(prev):
            out.append(intersect(prev, cur))
    return out


def split_antimeridian(rings) -> list:
    """Normalize an antimeridian-crossing polygon into 1–2 non-crossing
    ring-sets (SURVEY §7.4 known-hard #2: ECMWF envelopes near the dateline).

    Detection: consecutive exterior-ring points jumping more than 180° of
    longitude. Resolution: shift negative lons +360 (the ring then lives in
    e.g. 170..190), clip against lon=180 into a west part (≤180, emitted
    as-is) and an east part (≥180, emitted shifted −360).
    """
    rings = [[(float(px), float(py)) for px, py in ring] for ring in rings]
    if not rings or len(rings[0]) < 2:
        return [rings]
    shell = rings[0]
    crosses = any(
        abs(shell[i][0] - shell[i - 1][0]) > 180.0 for i in range(len(shell))
    )
    if not crosses:
        return [rings]
    shifted = [
        [((px + 360.0) if px < 0 else px, py) for px, py in ring] for ring in rings
    ]
    west = [r for r in (_clip_ring_halfplane(ring, True, 180.0) for ring in shifted) if len(r) >= 3]
    east_raw = [r for r in (_clip_ring_halfplane(ring, False, 180.0) for ring in shifted) if len(r) >= 3]
    east = [[(px - 360.0, py) for px, py in ring] for ring in east_raw]
    out = []
    if west and len(west[0]) >= 3:
        out.append(west)
    if east and len(east[0]) >= 3:
        out.append(east)
    return out or [rings]


def split_polygons(polys) -> list:
    """Antimeridian-normalize a POLYGON SET (list of ring-sets, the
    ``wkt.polygons_of`` shape): each dateline-crossing polygon splits into
    its ≤2 non-crossing parts, others pass through. Every consumer of the
    planar point/segment/clip kernels in ``geo.wkt`` must parse WKT
    through this (r9 review: the boundary-verify UDF ray-cast a raw
    unsplit dateline envelope and classified its INTERIOR as outside —
    polygon_cover split covers while the verifier didn't, so every
    boundary-leaf point of a dateline storm was dropped)."""
    return [part for rings in polys for part in split_antimeridian(rings)]


def polygon_cover(
    polygon_rings: Iterable,
    zoom: int,
    *,
    min_full_zoom: int = 6,
) -> list[tuple[str, bool]]:
    """Mixed-zoom quadkey cover of a polygon.

    ``polygon_rings``: sequence of rings; ring 0 is the exterior shell,
    the rest are holes. Each ring is a sequence of (lon, lat) pairs.

    Returns (quadkey, full) pairs with len(quadkey) <= ``zoom``:
      - full=True: the tile (or whole subtree, if shorter than ``zoom``)
        is entirely INSIDE the polygon — membership needs no further check.
      - full=False: a zoom-N leaf touching the boundary — point-level
        consumers must verify with an exact point-in-polygon test.
    Subtrees are only collapsed at zoom >= ``min_full_zoom`` to bound the
    prefix-length fan-out (= number of per-length join passes).

    Replaces the GeoPandas R-tree sjoin of the reference
    (impact_analysis.py:1880-1891) with data Catalyst can equi-join.
    """
    from aos_spark.geo.wkt import rect_polygon_relation

    rings = [[(float(px), float(py)) for px, py in ring] for ring in polygon_rings]
    if not rings or len(rings[0]) < 3:
        return []

    # antimeridian-crossing polygons split into ≤2 normal ones; dedupe the
    # merged cover (a tile can touch both halves at the seam)
    parts = split_antimeridian(rings)
    if len(parts) > 1:
        merged: dict[str, bool] = {}
        for part in parts:
            for qk, full in polygon_cover(part, zoom, min_full_zoom=min_full_zoom):
                merged[qk] = merged.get(qk, False) or full
        return sorted(merged.items())

    lons = [p[0] for p in rings[0]]
    lats = [p[1] for p in rings[0]]
    bbox = (min(lons), min(lats), max(lons), max(lats))

    out: list[tuple[str, bool]] = []

    def descend(qk: str) -> None:
        w, s, e, n = quadkey_to_bbox(qk)
        if w > bbox[2] or e < bbox[0] or s > bbox[3] or n < bbox[1]:
            return
        rel = rect_polygon_relation((w, s, e, n), rings)
        if rel == "disjoint":
            return
        if rel == "within" and (len(qk) >= min_full_zoom or len(qk) == zoom):
            out.append((qk, True))  # whole subtree covered — emit the prefix
            return
        if len(qk) == zoom:
            out.append((qk, False))  # boundary leaf
            return
        for c in children(qk):
            descend(c)

    for root in "0123":
        descend(root)
    return out


def expand_cover(cover: Iterable, zoom: int) -> list[str]:
    """Expand a mixed-zoom cover to full zoom-N leaves (test/small-scale
    path). Accepts bare quadkeys or (quadkey, full) pairs."""
    out: list[str] = []
    stack = [qk if isinstance(qk, str) else qk[0] for qk in cover]
    while stack:
        qk = stack.pop()
        if len(qk) == zoom:
            out.append(qk)
        else:
            stack.extend(children(qk))
    return out
