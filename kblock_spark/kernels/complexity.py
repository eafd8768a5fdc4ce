"""k-complexity: concentric building-layer peeling per block.

Reimplements the reference's ``compute_k``
(kblock/batch_4_compute_k.py:41-188) on first principles:

- The reference tessellates building points into **Voronoi parcels**
  clipped to the block and peels layers with pairwise ``touches``
  tests. Two Voronoi cells share a boundary iff their sites are
  Delaunay-adjacent, so the peel is a **BFS over the Delaunay graph**
  of the building points — computed here with the self-contained
  Bowyer–Watson in :mod:`kblock_spark.geo.delaunay` (no GEOS in this
  container). Corner-only parcel contact (4 cocircular sites) is the
  one case where GEOS ``touches`` and Delaunay adjacency can differ;
  fixtures avoid cocircular degeneracy.
- "Parcel intersects the on-network street buffer" (batch_4:115,131)
  becomes: the parcel's site is the nearest building to some sampled
  point of the on-network streets (a Voronoi cell contains a street
  point iff its site is that point's nearest site).
- On/off-network street classification (batch_4:93-117) is the exact
  graph formulation of the reference's buffer-union construction:
  street pieces clipped to the block are connected when their
  (radius/2)-buffers overlap (distance ≤ radius), connected to the
  exterior zone when within 1.5·radius of the block's exterior ring,
  and a component is on-network when it reaches the exterior zone or
  an exterior-access street (an unclipped street within ``radius`` of
  the exterior ring) passes within radius/2 of one of its pieces.
- Disconnected blocks (no on-network streets) seed the peel with the
  parcels on the block boundary — the same outcome as the reference's
  shrink-by-0.9999 boundary-ring fallback (batch_4:157-168).
- ``bldg_count ∈ {0, 1}`` → k = 1 (batch_4:179-181).

:func:`compute_k_block` runs inside the packed-block ``mapInPandas``
kernels of :mod:`kblock_spark.pipeline` — one row per block, placed by
cost, embarrassingly parallel across blocks, replacing the reference's
multiprocessing pool (batch_4:576-577).
"""

from __future__ import annotations

import numpy as np

from ..geo.delaunay import delaunay_edges
from ..geo.geom import (
    clip_polyline_to_polygon,
    convex_hull_indices,
    polyline_length,
    segments_mindist_rowmin,
    segments_pairs_within,
)
from ..geo.mercator import lonlat_to_mercator

BUFFER_RADIUS_M = 100.0  # reference default (batch_4:41)

K_SCHEMA = (
    "block_id string, on_network_street_length double, "
    "off_network_street_length double, nearest_external_street double, "
    "building_count int, building_layers string, k_complexity int"
)

K_COLUMNS = [
    "block_id", "on_network_street_length", "off_network_street_length",
    "nearest_external_street", "building_count", "building_layers",
    "k_complexity",
]


def _merc(coords_deg: np.ndarray) -> np.ndarray:
    x, y = lonlat_to_mercator(coords_deg[:, 0], coords_deg[:, 1])
    return np.stack([x, y], axis=1)


class _GridNN:
    """Exact nearest-site index on a uniform grid hash (cell ≈ mean
    site spacing, expanding ring search) — the in-kernel stand-in for
    the reference's STRtree (batch_2:68-69). Buckets are CSR arrays
    keyed by a scalar cell code so batched queries vectorize:
    per Chebyshev ring, one ``searchsorted`` per cell offset over ALL
    unresolved queries, ragged candidate lists expanded with the
    repeat/arange trick."""

    def __init__(self, sites: np.ndarray):
        self.sites = sites
        ns = len(sites)
        lo = sites.min(axis=0)
        hi = sites.max(axis=0)
        span = max(hi[0] - lo[0], hi[1] - lo[1], 1e-9)
        self.lo = lo
        cell = max(span / max(np.sqrt(ns), 1.0), 1e-9)
        self._build(cell)
        # span/√n over-sizes the cell when sites are CLUSTERED (the
        # synthetic city's street-aligned points measured ~6.4 sites
        # per occupied cell → every 3×3 probe dragged ~58 candidates);
        # one refinement from the MEASURED occupancy normalizes to
        # ~1.5 sites/occupied-cell. Exactness never depends on the
        # cell size (the ring stop criterion scales with it).
        density = ns / max(len(self.bkeys), 1)
        if density > 2.0:
            self._build(max(cell / np.sqrt(density / 1.5), 1e-9))

    def _build(self, cell: float):
        sites = self.sites
        ns = len(sites)
        self.cell = cell
        gx = np.floor((sites[:, 0] - self.lo[0]) / cell).astype(np.int64)
        gy = np.floor((sites[:, 1] - self.lo[1]) / cell).astype(np.int64)
        self.ncols = int(gy.max()) + 2  # row-major scalar cell code
        code = gx * self.ncols + gy
        self.order = np.argsort(code, kind="stable")
        sc = code[self.order]
        first = np.ones(ns, dtype=bool)
        first[1:] = sc[1:] != sc[:-1]
        self.bkeys = sc[first]  # sorted unique cell codes
        starts = np.flatnonzero(first)
        self.bstart = starts
        self.bend = np.concatenate([starts[1:], [ns]])

    def _gather(self, codes: np.ndarray):
        """codes (k,) → (pair_query_row, pair_site_idx) for all sites
        in those cells; query_row is the row index into ``codes``."""
        pos = np.searchsorted(self.bkeys, codes)
        pos = np.clip(pos, 0, len(self.bkeys) - 1)
        hit = self.bkeys[pos] == codes
        st = np.where(hit, self.bstart[pos], 0)
        en = np.where(hit, self.bend[pos], 0)
        ln = en - st
        tot = int(ln.sum())
        if tot == 0:
            return (np.zeros(0, dtype=np.int64),) * 2
        qrow = np.repeat(np.arange(len(codes), dtype=np.int64), ln)
        cum = np.cumsum(ln)
        within = np.arange(tot, dtype=np.int64) - np.repeat(cum - ln, ln)
        sidx = self.order[np.repeat(st, ln) + within]
        return qrow, sidx

    @staticmethod
    def _ring_offsets(r: int) -> np.ndarray:
        """(K, 2) Chebyshev-ring offsets in the SAME (dx, dy)
        lexicographic enumeration order as the original per-offset
        loop — candidate order (hence tie-breaking) depends on it."""
        if r == 0:
            return np.zeros((1, 2), dtype=np.int64)
        out = [
            (dx, dy)
            for dx in range(-r, r + 1)
            for dy in range(-r, r + 1)
            if max(abs(dx), abs(dy)) == r
        ]
        return np.asarray(out, dtype=np.int64)

    def query(self, pts: np.ndarray) -> np.ndarray:
        npts = len(pts)
        if npts == 0:
            return np.zeros(0, dtype=np.int64)
        gx = np.floor((pts[:, 0] - self.lo[0]) / self.cell).astype(np.int64)
        gy = np.floor((pts[:, 1] - self.lo[1]) / self.cell).astype(np.int64)
        gxmax = int((self.bkeys // self.ncols).max())
        best_d2 = np.full(npts, np.inf)
        best_j = np.zeros(npts, dtype=np.int64)
        unres = np.arange(npts, dtype=np.int64)
        r = 0
        while len(unres):
            # ALL cells on the Chebyshev ring of radius r, for ALL
            # unresolved queries, in ONE gather + ONE stable
            # segment-min — the per-offset python loop this replaces
            # spent most of the kernel's time on 8r small lexsorts per
            # ring (profiled: query was 2.1 of 3.0 s on the heaviest
            # bench block). Candidate order = offset-major, query
            # order within each offset, exactly like the sequential
            # loop, and lexsort is stable — so equal-d2 ties resolve
            # to the identical site and the frozen kernel goldens are
            # unaffected.
            offs = self._ring_offsets(r)
            P = pts[unres]
            cgx = offs[:, 0][:, None] + gx[unres][None, :]  # (K, n)
            cgy = offs[:, 1][:, None] + gy[unres][None, :]
            # out-of-range cells hold no sites; skipping them both
            # saves lookups and prevents scalar-code aliasing
            valid = (
                (cgx >= 0) & (cgx <= gxmax)
                & (cgy >= 0) & (cgy < self.ncols - 1)
            )
            vi = np.flatnonzero(valid.ravel())
            if len(vi):
                qcols = vi % len(unres)  # query row within unres
                codes = cgx.ravel()[vi] * self.ncols + cgy.ravel()[vi]
                qrow, sidx = self._gather(codes)
                if len(qrow):
                    qrow = qcols[qrow]
                    d2 = ((self.sites[sidx] - P[qrow]) ** 2).sum(axis=1)
                    # order-preserving segment-min in two O(c) scatter
                    # passes (a lexsort here was the kernel's single
                    # hottest line): pass 1 min-d2 per query row;
                    # pass 2 FIRST candidate position attaining it —
                    # the same winner the stable sort picked (earliest
                    # offset on equal-d2 ties)
                    ring_best = np.full(len(unres), np.inf)
                    np.minimum.at(ring_best, qrow, d2)
                    at_min = d2 == ring_best[qrow]
                    pos = np.full(len(unres), len(d2), dtype=np.int64)
                    cand_pos = np.flatnonzero(at_min)
                    np.minimum.at(pos, qrow[cand_pos], cand_pos)
                    win_rows = np.flatnonzero(pos < len(d2))
                    win_pos = pos[win_rows]
                    win_d2 = d2[win_pos]
                    win_site = sidx[win_pos]
                    tgt = unres[win_rows]
                    upd = win_d2 < best_d2[tgt]
                    best_d2[tgt[upd]] = win_d2[upd]
                    best_j[tgt[upd]] = win_site[upd]
            done = best_d2[unres] <= (r * self.cell) ** 2  # exact stop
            unres = unres[~done]
            r += 1
        return best_j


def _nearest_site(
    samples: np.ndarray, sites: np.ndarray, nn: "_GridNN | None" = None
) -> np.ndarray:
    """Index of nearest site for each sample (exact): brute when the
    pair product is tiny, else the batched grid index."""
    ns = len(sites)
    if ns == 0 or len(samples) == 0:
        return np.zeros(0, dtype=np.int64)
    # small-to-mid pair products: a GEMM-form distance block (one
    # (len, ns) output via BLAS, coordinates centered so the
    # ‖a‖²+‖b‖²−2a·b expansion cannot cancel catastrophically) beats
    # both the (len, ns, 2)-temporary broadcast form (memory-bound)
    # and the grid walk's python overhead; the grid path remains for
    # genuinely big products (dense blocks × large frontiers)
    if ns * len(samples) <= 200_000:
        c = sites.mean(axis=0)
        P = sites - c
        S = samples - c
        d2 = (
            (S * S).sum(axis=1)[:, None]
            + (P * P).sum(axis=1)[None, :]
            - 2.0 * (S @ P.T)
        )
        return d2.argmin(axis=1)
    return (nn or _GridNN(sites)).query(samples)


def _cells_crossed_by_segments(
    P: np.ndarray, Q: np.ndarray, sites: np.ndarray, min_len: float = 1e-3
) -> set[int]:
    """EXACT set of sites whose Voronoi cell any segment P[i]→Q[i]
    crosses.

    Voronoi cells are convex, so each cell's ownership along a line is
    one contiguous interval → bisection between differing-endpoint
    owners enumerates every owner without any sampling-step heuristic
    (replaces GEOS's exact intersects(parcel, street) test,
    batch_4:115,131). Level-synchronous over ALL active segments so
    every nearest-site lookup is one vectorized batch.

    ``min_len`` bounds the bisection depth: a cell is only missable if
    its ENTIRE ownership interval on the segment is shorter than
    min_len. Coordinates here are mercator METERS, so 1e-3 (one
    millimeter, vs building spacings of meters) is exact for any
    physical layout while saving ~10 bisection levels per segment
    over the old 1e-6 (A/B: 1.18x on the kernel population,
    set-identical seeds — bench_runs/r6_ab_minlen)."""
    if len(P) == 0 or len(sites) == 0:
        return set()
    nn = _GridNN(sites) if len(sites) > 64 else None
    p = np.asarray(P, dtype=np.float64)
    q = np.asarray(Q, dtype=np.float64)
    i0 = _nearest_site(p, sites, nn)
    i1 = _nearest_site(q, sites, nn)
    out: set[int] = set(i0.tolist()) | set(i1.tolist())
    min2 = min_len * min_len
    while True:
        d = q - p
        act = (i0 != i1) & ((d * d).sum(axis=1) > min2)
        if not act.any():
            return out
        p, q, i0, i1 = p[act], q[act], i0[act], i1[act]
        mid = (p + q) / 2.0
        im = _nearest_site(mid, sites, nn)
        out |= set(im.tolist())
        keep_l = im != i0  # left half still has differing owners
        keep_r = im != i1
        p, q, i0, i1 = (
            np.concatenate([p[keep_l], mid[keep_r]]),
            np.concatenate([mid[keep_l], q[keep_r]]),
            np.concatenate([i0[keep_l], im[keep_r]]),
            np.concatenate([im[keep_l], i1[keep_r]]),
        )


class _UnionFind:
    def __init__(self, n: int):
        self.p = list(range(n))

    def find(self, a: int) -> int:
        while self.p[a] != a:
            self.p[a] = self.p[self.p[a]]
            a = self.p[a]
        return a

    def union(self, a: int, b: int):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[ra] = rb


def _street_networks(
    shell_m: np.ndarray,
    holes_m: list[np.ndarray],
    lines_m: list[np.ndarray],
    radius: float,
):
    """→ (on_len, off_len, nearest_flag_zero, on_pieces)

    on_pieces: list of clipped 2-pt segments classified on-network.
    nearest_flag_zero: True if any street intersects the block.
    """
    pieces: list[np.ndarray] = []
    for line in lines_m:
        for i in range(len(line) - 1):
            pieces.extend(clip_polyline_to_polygon(line[i : i + 2], shell_m, holes_m))
    if not pieces:
        return 0.0, 0.0, False, []
    ring_closed = np.vstack([shell_m, shell_m[:1]])
    ring_a = ring_closed[:-1]
    ring_b = ring_closed[1:]

    n = len(pieces)
    ends_a = np.array([p[0] for p in pieces])
    ends_b = np.array([p[1] for p in pieces])

    # exterior-access streets: unclipped lines within `radius` of the
    # exterior ring (batch_4:104-105 intersects(streets, external_buffer)).
    # lines_m entries are 2-pt segments (bbox pre-clip), so one exact
    # pairwise segment-distance matrix covers all of them.
    la = np.array([ln[0] for ln in lines_m])
    lb = np.array([ln[-1] for ln in lines_m])
    line_ring = segments_mindist_rowmin(la, lb, ring_a, ring_b)
    acc_mask = line_ring <= radius
    acc_a, acc_b = la[acc_mask], lb[acc_mask]

    EXT = n
    uf = _UnionFind(n + 1)
    # piece to exterior zone: internal r/2 buffer meets external r
    # buffer ⇔ EXACT distance to exterior ring ≤ 1.5 r
    piece_ring = segments_mindist_rowmin(ends_a, ends_b, ring_a, ring_b)
    for i in np.flatnonzero(piece_ring <= 1.5 * radius):
        uf.union(int(i), EXT)
    # piece-piece: r/2 buffers overlap ⇔ EXACT distance ≤ r (the
    # reference's GEOS buffer-union predicate; exact, not sampled).
    # Tiled pair extraction — the (n,n) matrix is never materialized.
    ii, jj = segments_pairs_within(ends_a, ends_b, ends_a, ends_b, radius)
    keep = ii < jj
    for i, j in zip(ii[keep].tolist(), jj[keep].tolist()):
        uf.union(i, j)
    kept_roots = set()
    if len(acc_a):
        kept_roots.add(uf.find(EXT))
        # components whose pieces pass within r/2 of an access street
        # (min over access segments per piece; sets are symmetric)
        dacc = segments_mindist_rowmin(ends_a, ends_b, acc_a, acc_b)
        for i in np.flatnonzero(dacc <= radius / 2.0):
            kept_roots.add(uf.find(int(i)))
    on_pieces = [p for i, p in enumerate(pieces) if uf.find(i) in kept_roots]
    on_len = sum(polyline_length(p) for p in on_pieces)
    total = sum(polyline_length(p) for p in pieces)
    return on_len, total - on_len, True, on_pieces


def compute_k_block(
    shell_deg: np.ndarray,
    holes_deg: list[np.ndarray],
    pts_deg: np.ndarray,
    street_lines_deg: list[np.ndarray],
    buffer_radius: float = BUFFER_RADIUS_M,
) -> dict:
    """Pure per-block kernel (unit-testable without Spark)."""
    shell_m = _merc(shell_deg)
    holes_m = [_merc(h) for h in holes_deg]
    pts_m = _merc(pts_deg) if len(pts_deg) else np.zeros((0, 2))
    # clip street lines to the block bbox expanded by the buffer radius
    # (the reference receives streets clipped to 100 m-buffered blocks,
    # batch_4:545-549; this also introduces the same boundary vertices
    # used by the nearest_external_street vertex distance)
    lines_m = []
    if street_lines_deg:
        bx0, by0 = shell_m.min(axis=0) - 2 * buffer_radius
        bx1, by1 = shell_m.max(axis=0) + 2 * buffer_radius
        bbox_ring = np.array([[bx0, by0], [bx1, by0], [bx1, by1], [bx0, by1]])
        for line in street_lines_deg:
            lm = _merc(line)
            for i in range(len(lm) - 1):
                for piece in clip_polyline_to_polygon(lm[i : i + 2], bbox_ring, []):
                    lines_m.append(piece)

    n = len(pts_m)
    if lines_m:
        on_len, off_len, intersects, on_pieces = _street_networks(
            shell_m, holes_m, lines_m, buffer_radius
        )
        if intersects and (on_len + off_len) > 0:
            nearest_ext = 0.0
        else:
            # distance from building-cloud centroid to nearest street
            # vertex (batch_4:91-92)
            verts = np.vstack(lines_m)
            if n:
                c = pts_m.mean(axis=0)
                nearest_ext = float(np.sqrt(((verts - c) ** 2).sum(axis=1)).min())
            else:
                nearest_ext = float("nan")
    else:
        on_len, off_len, on_pieces = 0.0, 0.0, []
        nearest_ext = float("nan")

    # ----- peel
    layers, assignment = _peel_layers(
        pts_m, shell_m, holes_m, on_pieces, on_len > 0
    )

    return {
        "on_network_street_length": float(on_len),
        "off_network_street_length": float(off_len),
        "nearest_external_street": float(nearest_ext),
        "building_count": int(n),
        "building_layers": ",".join(layers),
        "k_complexity": int(len(layers)),
        "layer_assignment": assignment,
    }


def _peel_layers(
    pts_m: np.ndarray,
    shell_m: np.ndarray,
    holes_m: list[np.ndarray],
    on_pieces: list[np.ndarray],
    is_connected: bool,
) -> tuple[list[str], np.ndarray]:
    """The Voronoi-layer peel → (layer count strings, per-building
    1-based layer index). Shared by compute_k (counts only,
    batch_4:41-188) and compute_layers (per-parcel membership,
    batch_4:190-375)."""
    n = len(pts_m)
    assignment = np.zeros(n, dtype=np.int64)
    if n <= 1:
        assignment[:] = 1
        return [str(n)], assignment
    edges = delaunay_edges(pts_m)
    adj: list[set[int]] = [set() for _ in range(n)]
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    layers: list[str] = []
    seeds: set[int] = set()
    if is_connected and on_pieces:
        # the reference buffers on-network streets by 1 m before the
        # parcel-intersection test (batch_4:115) — a street running
        # along a Voronoi bisector seeds the cells on BOTH sides.
        # Exact cell enumeration along the piece and its ±1 m
        # perpendicular offsets (cells are convex → bisection is
        # exact, no sampling-step heuristics), batched over all
        # pieces so nearest-site lookups vectorize.
        P0 = np.array([p[0] for p in on_pieces])
        P1 = np.array([p[1] for p in on_pieces])
        d = P1 - P0
        ln = np.sqrt((d * d).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            nrm = np.stack([-d[:, 1], d[:, 0]], axis=1) / np.where(
                ln > 0, ln, 1.0
            )[:, None]
        nrm[ln == 0] = 0.0
        segs_p = np.concatenate([P0, P0 + nrm, P0 - nrm])
        segs_q = np.concatenate([P1, P1 + nrm, P1 - nrm])
        seeds = _cells_crossed_by_segments(segs_p, segs_q, pts_m)
    if is_connected and not seeds:
        # reference records a 0-count first layer then falls back
        # to the boundary ring (batch_4:131-137,157-168)
        layers.append("0")
    if not seeds:
        ra = []
        rb = []
        for ring in [shell_m] + holes_m:
            closed = np.vstack([ring, ring[:1]])
            ra.append(closed[:-1])
            rb.append(closed[1:])
        seeds = _cells_crossed_by_segments(
            np.concatenate(ra), np.concatenate(rb), pts_m
        )
    layers.append(str(len(seeds)))
    depth = len(layers)
    for i in seeds:
        assignment[i] = depth
    remaining = set(range(n)) - seeds
    frontier = seeds
    while remaining:
        nxt = {j for i in frontier for j in adj[i] if j in remaining}
        if not nxt:
            # severed adjacency fallback: boundary cells of the
            # remaining island (reference's shrink-ring detection,
            # batch_4:157-168)
            rem = np.array(sorted(remaining))
            hull = convex_hull_indices(pts_m[rem])
            nxt = {int(rem[h]) for h in hull}
        layers.append(str(len(nxt)))
        depth = len(layers)
        for i in nxt:
            assignment[i] = depth
        remaining -= nxt
        frontier = nxt
    return layers, assignment


LAYERS_SCHEMA = "block_id string, url string, layer int, k_complexity int"
