"""Output checks that do not trust the engine: an independent numpy
ray-cast, count and conservation identities, parquet read-back, run
digests and the query oracle comparison. Every check that fails counts
toward ``fail_ratio``."""

from __future__ import annotations

import functools
import hashlib
import json
import os

import numpy as np


class Checks:
    """Tally of attempted and failed operations (engine calls and
    output checks) for one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok

    def call(self, name: str, fn, *args, **kwargs):
        """Run one engine call; an exception counts as a failed call
        and is re-raised so the build stops."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as ex:
            self.failed += 1
            self.failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
            raise


# -------------------------------------------------------- ray-cast

def rings_of(ring_sizes, coords) -> list[np.ndarray]:
    flat = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
    out, off = [], 0
    for s in ring_sizes:
        out.append(flat[off : off + int(s)])
        off += int(s)
    return out


def _ring_edges(ring: np.ndarray):
    a = ring
    b = np.roll(ring, -1, axis=0)
    return a[:, 0], a[:, 1], b[:, 0], b[:, 1]


def point_in_rings(x: np.ndarray, y: np.ndarray, rings: list[np.ndarray]):
    """Even-odd ray cast over all rings (shell and holes) → (inside,
    on_edge) boolean arrays. ``on_edge`` is an exact collinearity and
    extent test against every edge."""
    inside = np.zeros(len(x), dtype=bool)
    on_edge = np.zeros(len(x), dtype=bool)
    px, py = x[:, None], y[:, None]
    for ring in rings:
        x1, y1, x2, y2 = _ring_edges(ring)
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= np.logical_xor.reduce(crosses & (px < xint), axis=1)
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        within = (
            (px >= np.minimum(x1, x2)) & (px <= np.maximum(x1, x2))
            & (py >= np.minimum(y1, y2)) & (py <= np.maximum(y1, y2))
        )
        on_edge |= np.any((cross == 0) & within, axis=1)
    return inside, on_edge


def check_pip(checks: Checks, ref, assigned, blocks, sample: int, seed: int) -> dict:
    """ref: (url, lon, lat) of every generated page. assigned: the PIP
    join output (url, block_id). blocks: block_id → rings.

    Every point lands in exactly one block and that block contains it
    (on its edge counts); on a fixed sample of points no other block
    contains the point strictly inside."""
    n = len(ref)
    dup = int(assigned["url"].duplicated().sum())
    checks.check("pip.one_block_per_point", dup == 0, f"{dup} points in >1 block")
    got = ref.merge(assigned.drop_duplicates("url"), on="url", how="left")
    missing = int(got["block_id"].isna().sum())
    checks.check("pip.every_point_assigned", missing == 0, f"{missing} of {n} unassigned")
    bad = 0
    hit = got.dropna(subset=["block_id"])
    for bid, idx in hit.groupby("block_id").indices.items():
        rings = blocks.get(bid)
        if rings is None:
            bad += len(idx)
            continue
        ins, edge = point_in_rings(
            hit["lon"].to_numpy()[idx], hit["lat"].to_numpy()[idx], rings
        )
        bad += int((~(ins | edge)).sum())
    checks.check("pip.block_contains_point", bad == 0, f"{bad} points outside their block")

    # fixed sample: no second block strictly contains the point
    rng = np.random.default_rng(seed)
    pick = hit.iloc[rng.choice(len(hit), min(sample, len(hit)), replace=False)]
    ids = list(blocks)
    boxes = np.array(
        [[r[0][:, 0].min(), r[0][:, 1].min(), r[0][:, 0].max(), r[0][:, 1].max()]
         for r in blocks.values()]
    )
    others = 0
    for lon, lat, own in zip(pick["lon"], pick["lat"], pick["block_id"]):
        cand = np.nonzero(
            (boxes[:, 0] <= lon) & (lon <= boxes[:, 2])
            & (boxes[:, 1] <= lat) & (lat <= boxes[:, 3])
        )[0]
        for c in cand:
            if ids[c] == own:
                continue
            ins, edge = point_in_rings(np.array([lon]), np.array([lat]), blocks[ids[c]])
            others += int(ins[0] and not edge[0])
    checks.check("pip.no_other_block", others == 0, f"{others} sampled points in 2 blocks")
    return {"unassigned": missing, "checked_sample": len(pick)}


# --------------------------------------------------------- digests

def digest(rows) -> str:
    lines = sorted("|".join(str(v) for v in r) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def spec_key(spec: dict) -> str:
    """Workload name plus a hash of its sizes, so a resized workload
    never compares with digests of the old size."""
    h = hashlib.md5(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:8]
    return f"{spec['name']}-{h}"


def check_pinned_digest(checks: Checks, path: str, key: str, value: str) -> None:
    """Compare ``value`` with the digest an earlier run of the same key
    (workload, seed) recorded in ``path``; record it when new."""
    known = {}
    if os.path.exists(path):
        with open(path) as fh:
            known = json.load(fh)
    if key in known:
        checks.check("determinism.across_runs", known[key] == value,
                     f"{key}: {value} != {known[key]}")
        return
    known[key] = value
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(known, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)


# --------------------------------------------------- query oracle

@functools.lru_cache(maxsize=None)
def _self_check():
    """``scripts/self_check.py`` of the checkout, loaded by path (it is
    a script, not a package module)."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "self_check", os.path.join(root, "scripts", "self_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def vhash(cols, rows) -> str:
    """The type-tagged, order-insensitive value hash of the oracle
    sweep: Decimal, float and int never hash equal."""
    return _self_check().vhash(cols, rows)
