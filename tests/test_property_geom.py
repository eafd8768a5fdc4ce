"""Property-based invariants for the geometry kernel (hypothesis)."""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from kblock_spark.geo import geom as G
from kblock_spark.geo.delaunay import delaunay_edges
from kblock_spark.geo.tiling import (
    cell_bounds,
    cell_of,
    cells_covering_bbox,
    cells_covering_line,
    cells_covering_polygon,
    k_ring,
    ring_cells_expr,
    ring_only,
)
from kblock_spark.ops.spatial_join import assign_points_to_polygons

coord = st.floats(-50.0, 50.0, allow_nan=False, allow_infinity=False)


def _convex_polygon(draw):
    n = draw(st.integers(3, 10))
    angles = sorted(draw(st.lists(st.floats(0, 2 * np.pi), min_size=n, max_size=n)))
    if len(set(angles)) < 3:
        angles = [0.0, 2.1, 4.2]
    r = draw(st.floats(0.5, 20.0))
    cx = draw(coord)
    cy = draw(coord)
    return np.array(
        [[cx + r * np.cos(a), cy + r * np.sin(a)] for a in sorted(set(angles))]
    )


convex_poly = st.composite(_convex_polygon)()


@settings(max_examples=40, deadline=None)
@given(convex_poly)
def test_convex_centroid_inside(poly):
    if abs(G.ring_area(poly)) < 1e-3:
        return  # degenerate sliver: centroid may sit on the boundary
    cx, cy = G.ring_centroid(poly)
    assert G.points_in_ring(np.array([cx]), np.array([cy]), poly)[0]


@settings(max_examples=40, deadline=None)
@given(convex_poly, st.floats(-30, 30), st.floats(-30, 30), st.floats(0.5, 30))
def test_clip_area_bounded(poly, x0, y0, s):
    full = abs(G.ring_area(poly))
    clipped = G.box_polygon_overlap_area(poly, [], x0, y0, x0 + s, y0 + s)
    assert -1e-9 <= clipped <= full + 1e-6


@settings(max_examples=40, deadline=None)
@given(convex_poly)
def test_pack_unpack_roundtrip(poly):
    sizes, coords = G.pack_rings(poly, [])
    shell, holes = G.unpack_rings(sizes, coords)
    assert np.allclose(shell, poly) and holes == []


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 10_000), st.integers(4, 40))
def test_delaunay_planarity_and_connectivity(seed, n):
    rng = np.random.default_rng(seed)
    pts = rng.uniform(0, 100, (n, 2))
    edges = delaunay_edges(pts)
    assert len(edges) <= 3 * n - 6 or n < 3
    # connectivity: BFS reaches every vertex
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    seen = {0}
    stack = [0]
    while stack:
        v = stack.pop()
        for w in adj[v]:
            if w not in seen:
                seen.add(w)
                stack.append(w)
    assert len(seen) == n


@settings(max_examples=30, deadline=None)
@given(st.floats(-170, 170), st.floats(-80, 80))
def test_cell_roundtrip(lon, lat):
    c = cell_of(np.array([lon]), np.array([lat]))[0]
    lo0, la0, lo1, la1 = cell_bounds(np.array([c]))
    assert lo0[0] - 1e-9 <= lon < lo1[0] + 1e-9
    assert la0[0] - 1e-9 <= lat < la1[0] + 1e-9


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 1000))
def test_polygon_cover_contains_samples(seed):
    rng = np.random.default_rng(seed)
    cx, cy = rng.uniform(-10, 10), rng.uniform(-10, 10)
    r = rng.uniform(0.002, 0.02)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 8))
    poly = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    if abs(G.ring_area(poly)) < 1e-9:
        return
    cells = cells_covering_polygon(poly)
    # random interior points must be covered
    pts = rng.uniform(0, 1, (50, 2))
    inner = poly.mean(axis=0) * 0.3 + 0.7 * (
        poly[rng.integers(0, len(poly), 50)] * pts[:, :1]
        + poly.mean(axis=0) * (1 - pts[:, :1])
    )
    mask = G.points_in_ring(inner[:, 0], inner[:, 1], poly)
    pc = cell_of(inner[mask, 0], inner[mask, 1])
    assert np.isin(pc, cells).all()


# A thin strip at cell_deg=1: point (0.03, 0.04) is inside, yet no
# corner, center or shell vertex of its cell is, and no half-cell edge
# sample lands in it — only an exact edge traversal covers that cell.
STRIP = np.array([(2.55, -2.5), (2.6, -2.5), (-2.5, 2.6), (-2.5, 2.55)])


def _assert_exact_cover(shell, holes, px, py, cell_deg):
    """cell_of(p) is covered whenever PIP says p is inside, and no
    covering cell leaves the polygon's bbox cell range."""
    cells = cells_covering_polygon(shell, holes, cell_deg)
    inside = G.points_in_polygon(px, py, shell, holes)
    missed = ~np.isin(cell_of(px[inside], py[inside], cell_deg), cells)
    assert not missed.any(), np.stack([px[inside], py[inside]], 1)[missed][:5]
    bbox = cells_covering_bbox(*shell.min(axis=0), *shell.max(axis=0), cell_deg)
    assert np.isin(cells, bbox).all()


def _edge_points(rings, ts=(0.0, 0.25, 0.5, 1.0 / 3.0, 0.9)):
    """Vertices plus points on every edge (exact up to rounding)."""
    out = []
    for r in rings:
        nxt = np.roll(r, -1, axis=0)
        out += [r + t * (nxt - r) for t in ts]
    return np.vstack(out)


def test_strip_cover_keeps_inside_point():
    px, py = np.array([0.03]), np.array([0.04])
    assert G.points_in_polygon(px, py, STRIP, [])[0]
    assert cell_of(px, py, 1.0)[0] in set(cells_covering_polygon(STRIP, [], 1.0))
    g = np.linspace(-2.6, 2.7, 300)
    gx, gy = np.meshgrid(g, g)
    _assert_exact_cover(STRIP, [], gx.ravel(), gy.ravel(), 1.0)


cells_f = st.floats(-20.0, 20.0, allow_nan=False, allow_infinity=False)
cell_deg_s = st.sampled_from([1.0, 0.1, 0.003, 0.0005])


@settings(max_examples=60, deadline=None)
@given(
    st.floats(-170.0, 170.0), st.floats(-80.0, 80.0),
    st.tuples(cells_f, cells_f, cells_f, cells_f),
    st.floats(1e-6, 0.2), cell_deg_s, st.integers(0, 2**16),
)
def test_sliver_cover_is_exact(cx, cy, ends, width, cell_deg, seed):
    """Thin strips (down to 1e-6 cells wide) anywhere on the globe,
    sized in cells so the bbox stays small."""
    a = np.array([cx, cy]) + np.array(ends[:2]) * cell_deg
    b = np.array([cx, cy]) + np.array(ends[2:]) * cell_deg
    d = b - a
    if np.hypot(*d) < 1e-3 * cell_deg:
        return
    nrm = np.array([-d[1], d[0]]) / np.hypot(*d) * width * cell_deg
    shell = np.array([a, b, b + nrm, a + nrm])
    rng = np.random.default_rng(seed)
    t, s = rng.uniform(0, 1, (2, 400, 1))
    pts = np.vstack([a + t * d + s * nrm, _edge_points([shell])])
    _assert_exact_cover(shell, [], pts[:, 0], pts[:, 1], cell_deg)


@settings(max_examples=40, deadline=None)
@given(
    st.floats(-170.0, 170.0), st.floats(-80.0, 80.0),
    st.floats(0.5, 12.0), st.floats(0.2, 0.95), st.tuples(cells_f, cells_f),
    cell_deg_s, st.integers(0, 2**16),
)
def test_holed_cover_is_exact(cx, cy, r, scale, shift, cell_deg, seed):
    """Convex shells with a shrunken, shifted copy as a hole; points on
    shell and hole edges and vertices, on grid lines and at random."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 9))
    # angle gaps < π keep the center ≥ 0.1 r inside the shell, so the
    # shrunken copy shifted by < 0.1 (1 - scale) r stays inside too
    ang = (np.arange(n) + rng.uniform(0, 0.4, n)) * 2 * np.pi / n
    unit = np.stack([np.cos(ang), np.sin(ang)], axis=1)
    c = np.array([cx, cy])
    shell = c + unit * r * cell_deg
    off = np.array(shift) / 20.0 * 0.07 * (1 - scale) * r * cell_deg
    hole = c + off + unit * r * scale * cell_deg
    lo0, la0, lo1, la1 = cell_bounds(
        cells_covering_bbox(*shell.min(axis=0), *shell.max(axis=0), cell_deg),
        cell_deg,
    )
    grid = np.stack([lo0, la0], axis=1)  # exact cell corners
    mid = np.stack([(lo0 + lo1) / 2, la0], axis=1)  # on horizontal lines
    rand = shell.min(axis=0) + rng.uniform(0, 1, (400, 2)) * np.ptp(shell, axis=0)
    pts = np.vstack([_edge_points([shell, hole]), grid, mid, rand])
    _assert_exact_cover(shell, [hole], pts[:, 0], pts[:, 1], cell_deg)


def test_diagonal_street_clipping_a_cell_corner():
    """x + y = 0.02 crosses cell [0,1)² only over a 0.028-long stretch
    near its corner — far shorter than a half-cell sampling step."""
    line = np.array([[-1.0, 1.02], [1.0, -0.98]])
    cells = cells_covering_line(line, 1.0)
    assert cell_of(np.array([0.01]), np.array([0.01]), 1.0)[0] in set(cells)
    # and every cell a dense walk of the line visits
    t = np.linspace(0, 1, 20001)[:, None]
    walk = line[0] + t * (line[1] - line[0])
    assert np.isin(cell_of(walk[:, 0], walk[:, 1], 1.0), cells).all()


def test_ring_cells_expr_matches_numpy_rings(spark):
    base = cell_of(np.array([10.0, -179.9, 0.0]), np.array([50.0, -89.9, 0.0]))
    cases = [(k, -1) for k in range(4)] + [(k, k - 1) for k in range(1, 4)] + [(4, 2)]
    df = spark.createDataFrame(pd.DataFrame({"cell": base}))
    rows = df.select(
        "cell",
        *[
            ring_cells_expr(F.col("cell"), k, inner).alias(f"r{i}")
            for i, (k, inner) in enumerate(cases)
        ],
    ).collect()
    for row in rows:
        c = int(row["cell"])
        for i, (k, inner) in enumerate(cases):
            want = (
                k_ring(c, k)
                if inner < 0
                else np.concatenate([ring_only(c, j) for j in range(inner + 1, k + 1)])
            )
            assert len(row[f"r{i}"]) == len(want)
            assert set(row[f"r{i}"]) == set(want.tolist()), (c, k, inner)


def test_pip_join_on_slivers_matches_brute_force(spark):
    """Sliver and holed blocks at a coarse grid: every join mode keeps
    exactly the (point, first containing block) pairs a brute-force
    ray cast finds."""
    cell_deg = 1.0
    frame = np.array([[-3.0, 3.0], [-1.0, 3.0], [-1.0, 5.0], [-3.0, 5.0]])
    polys = {
        1: (STRIP, []),
        2: (STRIP[:, ::-1] * np.array([1.0, -1.0]), []),  # crosses the strip
        3: (frame, [frame * 0.98 + np.array([-0.04, 0.08])]),
        4: (np.array([[3.0, -4.0], [4.2, -3.97], [3.0, -3.99]]), []),
    }
    rng = np.random.default_rng(5)
    pts = [rng.uniform(-4, 5, (3000, 2)), np.array([[0.03, 0.04]])]
    pts += [_edge_points([s, *h]) for s, h in polys.values()]
    for s, _ in polys.values():
        t = rng.uniform(0, 1, (300, 1))
        pts.append(s[0] + t * (s[2] - s[0]))  # along the sliver diagonal
    pts = np.vstack(pts)
    want = {}
    for key in sorted(polys, reverse=True):
        shell, holes = polys[key]
        for i in np.flatnonzero(G.points_in_polygon(pts[:, 0], pts[:, 1], shell, holes)):
            want[int(i)] = key
    assert 3000 in want  # the strip repro point

    points = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": np.arange(len(pts)),
                "lon": pts[:, 0],
                "lat": pts[:, 1],
                "cell": cell_of(pts[:, 0], pts[:, 1], cell_deg),
            }
        )
    )
    poly_df = spark.createDataFrame(
        pd.DataFrame(
            [
                dict(zip(("ring_sizes", "coords"), G.pack_rings(s, h)), poly_id=k)
                for k, (s, h) in polys.items()
            ]
        ),
        "ring_sizes array<int>, coords array<double>, poly_id long",
    )
    for mode in ({"broadcast_polys": True}, {"broadcast_polys": False},
                 {"broadcast_polys": False, "salt_buckets": 3}):
        got = assign_points_to_polygons(
            points, poly_df, ["pid", "lon", "lat"], poly_key="poly_id",
            cell_deg=cell_deg, **mode,
        ).select("pid", "poly_id").collect()
        assert {r["pid"]: r["poly_id"] for r in got} == want, mode
        assert len(got) == len(want), mode


intcoord = st.integers(1, 99999)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.tuples(intcoord, intcoord), min_size=1, max_size=60),
    st.tuples(
        st.integers(0, 40000), st.integers(0, 40000),
        st.integers(1, 5000), st.integers(1, 5000),
    ),
    st.tuples(
        st.integers(5000, 45000), st.integers(5000, 45000),
        st.integers(1, 2500),
    ),
)
def test_ray_cast_matches_closed_forms(points, rect, diamond):
    """The generic even-odd ray cast must agree with closed-form
    membership for axis-aligned rectangles (bbox test) and 45-degree
    diamonds (L1-ball test) on integer inputs — the geo_pip_oracle
    exactness argument, fuzzed: odd points, even rectangle corners,
    even diamond centers with odd radii rule out on-edge ties."""
    px = np.array([2 * x + 1 for x, _ in points], dtype=np.float64)
    py = np.array([2 * y + 1 for _, y in points], dtype=np.float64)

    x0, y0, w, h = (2 * v for v in rect)
    ring = np.array(
        [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]], float
    )
    got = G.points_in_ring(px, py, ring)
    want = (px > x0) & (px < x0 + w) & (py > y0) & (py < y0 + h)
    assert (got == want).all()

    cx, cy, r = 2 * diamond[0], 2 * diamond[1], 2 * diamond[2] + 1
    dia = np.array(
        [[cx, cy - r], [cx + r, cy], [cx, cy + r], [cx - r, cy]], float
    )
    got = G.points_in_ring(px, py, dia)
    want = np.abs(px - cx) + np.abs(py - cy) < r
    assert (got == want).all()
