"""Spatial tiling: geohash encoding + fixed-resolution grid cells.

The reference uses geohash (precision 18) for deterministic spatial
sort order and chunking (kblock/batch_1b_generate_blocks.py:235-236,
batch_2_prepare_buildings.py:216-220) and STRtree spatial indexes for
join acceleration (batch_2:68-69). In this engine the join index is a
**fixed-resolution grid cell id** (an H3-level-9-like equal-angle
tiling; the h3 library is not available in this container, so the
tiling is a deterministic lat/lon grid with similar cell area) carried
as an int64 column — spatial joins become plain Catalyst equi-joins on
the cell id, and kNN expands rings of neighboring cells.

This is the only module that maps coordinates or shapes to cells:

- cell ids of points, boxes and Chebyshev rings are Catalyst column
  expressions (:func:`cell_expr`, :func:`box_cells_expr`,
  :func:`ring_cells_expr`), bit-identical to the numpy twins;
- line and polygon coverings come from one exact segment traversal
  (:func:`segment_cells`) over the same ``floor((x+180)/d)`` grid, so
  a polygon's covering holds the cell of every point the ray-cast PIP
  calls inside — the superset a join prefilter needs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"

# Cell edge in degrees. 0.003° ≈ 334 m at the equator ≈ 0.11 km² cells,
# matching H3 resolution-9 average cell area (~0.105 km²) per the north
# rule's "H3 level-9 tile" requirement.
DEFAULT_CELL_DEG = 0.003


# ------------------------------------------------------------- geohash

def geohash_encode(lon, lat, precision: int = 12) -> np.ndarray:
    """Vectorized geohash (standard public base32 algorithm).

    Returns an object array of strings. Matches pygeohash.encode used
    at kblock/batch_1b_generate_blocks.py:235-236 (the reference calls
    it with precision 18; any precision is supported here).
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = lon.shape[0]
    lo_min = np.full(n, -180.0)
    lo_max = np.full(n, 180.0)
    la_min = np.full(n, -90.0)
    la_max = np.full(n, 90.0)
    nbits = precision * 5
    bits = np.zeros((n, nbits), dtype=np.int8)
    for b in range(nbits):
        if b % 2 == 0:  # even bit → longitude
            mid = (lo_min + lo_max) / 2.0
            hi = lon >= mid
            bits[:, b] = hi
            lo_min = np.where(hi, mid, lo_min)
            lo_max = np.where(hi, lo_max, mid)
        else:
            mid = (la_min + la_max) / 2.0
            hi = lat >= mid
            bits[:, b] = hi
            la_min = np.where(hi, mid, la_min)
            la_max = np.where(hi, la_max, mid)
    # group bits into base32 chars
    vals = np.zeros((n, precision), dtype=np.int32)
    for c in range(precision):
        chunk = bits[:, c * 5 : c * 5 + 5]
        vals[:, c] = (
            chunk[:, 0] * 16 + chunk[:, 1] * 8 + chunk[:, 2] * 4
            + chunk[:, 3] * 2 + chunk[:, 4]
        )
    lut = np.array(list(_BASE32))
    chars = lut[vals]
    return np.array(["".join(row) for row in chars], dtype=object)


# ------------------------------------------------------------ grid cells
#
# A cell id packs the column and row of the grid as (ix << 32) | iy,
# with ix = floor((lon + 180) / d) and iy = floor((lat + 90) / d).

def _pack(ix, iy) -> np.ndarray:
    ix = np.asarray(ix).astype(np.int64)
    return (ix << np.int64(32)) | np.asarray(iy).astype(np.int64)


def cell_of(lon, lat, cell_deg: float = DEFAULT_CELL_DEG) -> np.ndarray:
    """lon/lat → int64 grid cell id (packed 32+32 bit ix/iy).

    The engine's analogue of h3.latlng_to_cell(lat, lon, 9).
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    return _pack(
        np.floor((lon + 180.0) / cell_deg), np.floor((lat + 90.0) / cell_deg)
    )


def cell_ixy(cell: np.ndarray):
    cell = np.asarray(cell, dtype=np.int64)
    return cell >> np.int64(32), cell & np.int64(0xFFFFFFFF)


def cell_bounds(cell, cell_deg: float = DEFAULT_CELL_DEG):
    """cell id → (lon_min, lat_min, lon_max, lat_max) arrays."""
    ix, iy = cell_ixy(cell)
    lon0 = ix.astype(np.float64) * cell_deg - 180.0
    lat0 = iy.astype(np.float64) * cell_deg - 90.0
    return lon0, lat0, lon0 + cell_deg, lat0 + cell_deg


def cells_covering_bbox(
    lon_min, lat_min, lon_max, lat_max, cell_deg: float = DEFAULT_CELL_DEG
) -> np.ndarray:
    """All cell ids whose tile intersects the bbox (the analogue of
    h3.polygon_to_cells over the envelope)."""
    ix0 = int(np.floor((lon_min + 180.0) / cell_deg))
    ix1 = int(np.floor((lon_max + 180.0) / cell_deg))
    iy0 = int(np.floor((lat_min + 90.0) / cell_deg))
    iy1 = int(np.floor((lat_max + 90.0) / cell_deg))
    gx, gy = np.meshgrid(
        np.arange(ix0, ix1 + 1, dtype=np.int64),
        np.arange(iy0, iy1 + 1, dtype=np.int64),
    )
    return _pack(gx.reshape(-1), gy.reshape(-1))


# Traversal guard, in cells: a coordinate within the guard of a grid
# line counts on both sides of it. 1e-9 cells plus ~450 ulps of the
# grid coordinate, so it always exceeds the rounding of (x+180)/d.
_GUARD = 1e-9
_GUARD_REL = 1e-13


def _floors(g: np.ndarray):
    """(floor(g - guard), floor(g + guard)): both grid indices a
    coordinate may round to."""
    tol = _GUARD + _GUARD_REL * np.abs(g)
    return np.floor(g - tol), np.floor(g + tol)


def _crossings(a0, a1, b0, b1):
    """Every crossing of segments (a0,b0)→(a1,b1) with an integer
    grid line a = k → (k, b at the crossing)."""
    lo, hi = np.minimum(a0, a1), np.maximum(a0, a1)
    k0 = np.ceil(lo)
    n = np.where(a0 != a1, np.floor(hi) - k0 + 1, 0).clip(0).astype(np.int64)
    seg = np.repeat(np.arange(len(a0)), n)
    k = k0[seg] + (np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n))
    b = b0[seg] + (k - a0[seg]) * (b1[seg] - b0[seg]) / (a1[seg] - a0[seg])
    return k, b


def segment_cells(
    x0, y0, x1, y1, cell_deg: float = DEFAULT_CELL_DEG
) -> np.ndarray:
    """Sorted unique ids of every cell whose closed tile touches one of
    the segments (x0,y0)→(x1,y1) — an exact grid traversal (no
    sampling step) in the same ``floor((x+180)/d)`` arithmetic as
    :func:`cell_of`.

    A segment enters each tile it touches through an endpoint or a
    grid-line crossing, so those points, with both tiles beside each
    crossed line and a guard on the other axis, enumerate them all."""
    gx0 = (np.asarray(x0, dtype=np.float64) + 180.0) / cell_deg
    gy0 = (np.asarray(y0, dtype=np.float64) + 90.0) / cell_deg
    gx1 = (np.asarray(x1, dtype=np.float64) + 180.0) / cell_deg
    gy1 = (np.asarray(y1, dtype=np.float64) + 90.0) / cell_deg
    kx, y_at = _crossings(gx0, gx1, gy0, gy1)
    ky, x_at = _crossings(gy0, gy1, gx0, gx1)
    points = (
        (_floors(np.concatenate([gx0, gx1])), _floors(np.concatenate([gy0, gy1]))),
        ((kx - 1, kx), _floors(y_at)),
        (_floors(x_at), (ky - 1, ky)),
    )
    return np.unique(
        np.concatenate(
            [_pack(ix, iy) for ixs, iys in points for ix in ixs for iy in iys]
        )
    )


def cells_covering_line(line: np.ndarray, cell_deg: float = DEFAULT_CELL_DEG):
    """Cells a polyline ((n, 2) lon/lat vertices) passes through."""
    line = np.asarray(line, dtype=np.float64).reshape(-1, 2)
    a, b = (line[:-1], line[1:]) if len(line) > 1 else (line, line)
    return segment_cells(a[:, 0], a[:, 1], b[:, 0], b[:, 1], cell_deg)


def cells_covering_polygon(
    shell: np.ndarray, holes=None, cell_deg: float = DEFAULT_CELL_DEG
) -> np.ndarray:
    """Exact cell covering of a polygon: the traversal of every shell
    and hole edge, plus the bbox cells whose center is inside. A cell
    no edge touches lies wholly inside or outside, so its center
    decides it; hence ``cell_of(p)`` is in the covering for every
    point ``p`` that :func:`~.geom.points_in_polygon` calls inside.
    Every covering cell lies in the polygon's bbox cell range."""
    from .geom import points_in_polygon

    holes = list(holes or [])
    rings = [shell, *holes]
    a = np.vstack(rings)
    b = np.vstack([np.roll(r, -1, axis=0) for r in rings])
    edge = segment_cells(a[:, 0], a[:, 1], b[:, 0], b[:, 1], cell_deg)
    (x_min, y_min), (x_max, y_max) = shell.min(axis=0), shell.max(axis=0)
    bbox = cells_covering_bbox(x_min, y_min, x_max, y_max, cell_deg)
    lo0, la0, lo1, la1 = cell_bounds(bbox, cell_deg)
    inner = bbox[points_in_polygon((lo0 + lo1) / 2, (la0 + la1) / 2, shell, holes)]
    return np.union1d(inner, edge[np.isin(edge, bbox)])


def k_ring(cell: int, k: int = 1) -> np.ndarray:
    """Cells within Chebyshev distance k (incl. center) — the grid
    analogue of h3.grid_disk, used for kNN ring expansion (reference's
    sjoin_nearest, kblock/batch_1a_prepare_gadm.py:244-245)."""
    ix, iy = int(cell) >> 32, int(cell) & 0xFFFFFFFF
    dxs = np.arange(-k, k + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ix + dxs, iy + dxs)
    return _pack(gx.reshape(-1), gy.reshape(-1))


def ring_only(cell: int, k: int) -> np.ndarray:
    """Cells at exactly Chebyshev distance k (hollow ring)."""
    if k == 0:
        return np.array([cell], dtype=np.int64)
    return np.setdiff1d(k_ring(cell, k), k_ring(cell, k - 1))


# ------------------------------------------------- Catalyst cell columns
#
# Same double division, same IEEE floor as the numpy functions above,
# so the ids are bit-identical — but the hot fact-table stages never
# cross into a Python worker (guide §4.1).

def _pack_expr(ix: Column, iy: Column) -> Column:
    return F.shiftleft(ix, 32).bitwiseOR(iy)


def cell_expr(lon: Column, lat: Column, cell_deg: float) -> Column:
    """Catalyst twin of :func:`cell_of` (iy ≥ 0 for valid latitudes,
    so OR == add)."""
    ix = F.floor((lon + F.lit(180.0)) / F.lit(float(cell_deg)))
    iy = F.floor((lat + F.lit(90.0)) / F.lit(float(cell_deg)))
    return _pack_expr(ix, iy)


def box_cells_expr(
    xmin: Column, ymin: Column, xmax: Column, ymax: Column, cell_deg: float
) -> Column:
    """Catalyst twin of :func:`cells_covering_bbox`: the same SET of
    cells (order differs; every consumer is an order-insensitive
    join/aggregate)."""
    c = F.lit(float(cell_deg))
    ix0 = F.floor((xmin + F.lit(180.0)) / c)
    ix1 = F.floor((xmax + F.lit(180.0)) / c)
    iy0 = F.floor((ymin + F.lit(90.0)) / c)
    iy1 = F.floor((ymax + F.lit(90.0)) / c)
    return F.flatten(
        F.transform(
            F.sequence(ix0, ix1),
            lambda ix: F.transform(F.sequence(iy0, iy1), lambda iy: _pack_expr(ix, iy)),
        )
    )


def ring_cells_expr(cell: Column, k: int, inner: int = -1) -> Column:
    """Cells at Chebyshev distance in (inner, k] of ``cell``:
    ``inner=-1`` is :func:`k_ring`, ``inner=k-1`` is :func:`ring_only`."""
    ix = F.shiftright(cell, 32)
    iy = cell.bitwiseAND(F.lit(0xFFFFFFFF))
    offs = F.sequence(F.lit(-k), F.lit(k))
    cells = F.flatten(
        F.transform(
            offs,
            lambda dx: F.transform(
                offs,
                lambda dy: F.when(
                    F.greatest(F.abs(dx), F.abs(dy)) > F.lit(inner),
                    _pack_expr(ix + dx, iy + dy),
                ),
            ),
        )
    )
    return F.filter(cells, lambda c: c.isNotNull())
