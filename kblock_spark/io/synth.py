"""Deterministic synthetic mini-geography + Common-Crawl-style pages.

No external data is allowed in this environment, so the engine's
inputs are generated here with fixed seeds:

- **admin**: a grid of adjacent rectangles, ``gadm_code =
  '{CC}.{i}.{j}_1'`` (mirrors GADM codes,
  kblock/batch_3_model_population.py:443).
- **streets**: a Manhattan grid per admin unit plus deterministic
  dangling segments and a ``highway='footway'`` row that block
  delineation must exclude (kblock/batch_1b_generate_blocks.py:319);
  the last admin unit gets zero interior streets (whole-polygon block,
  batch_1b:193-195).
- **pages**: the Iceberg-style web-pages table
  ``(url, warc_ts, html, text, lang)`` per BASELINE.json input_hint;
  ``text`` embeds a ``geo:lat,lon`` token; ``html`` wraps ``text`` in
  a fixed byte template so ``extract_text(html) == text`` holds
  byte-identically per url. Page locations are a skewed mixture
  (uniform + dense hotspot clusters) to exercise salting.

Pages generation is **distributed**: ``spark.range`` → ``mapInPandas``
so the 100 TB-scale version is the same code with a bigger range.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..geo.geom import pack_rings

# Mini-city placement (equator-adjacent keeps Mercator scale ~1).
ORIGIN_LON = 10.0
ORIGIN_LAT = 0.0
ADMIN_SIZE_DEG = 0.02  # one admin unit ≈ 2.2 km square

LANG_WORDS = {
    "en": ["the", "house", "street", "market", "city", "water", "with", "and"],
    "fr": ["le", "maison", "rue", "marché", "ville", "eau", "avec", "et"],
    "sw": ["nyumba", "barabara", "soko", "mji", "maji", "na", "kwa", "ya"],
    "pt": ["a", "casa", "rua", "mercado", "cidade", "água", "com", "e"],
}
LANGS = list(LANG_WORDS)

HTML_PRE = b"<html><head><title>kblock synthetic page</title></head><body>"
HTML_POST = b"</body></html>"


def page_html(text: str) -> bytes:
    return HTML_PRE + text.encode("utf-8") + HTML_POST


# ----------------------------------------------------------------- admin

def synth_admin(nx: int = 3, ny: int = 3, country_code: str = "AAA") -> pd.DataFrame:
    """Grid of adjacent admin rectangles as packed-ring rows."""
    rows = []
    for i in range(nx):
        for j in range(ny):
            x0 = ORIGIN_LON + i * ADMIN_SIZE_DEG
            y0 = ORIGIN_LAT + j * ADMIN_SIZE_DEG
            x1, y1 = x0 + ADMIN_SIZE_DEG, y0 + ADMIN_SIZE_DEG
            shell = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
            sizes, coords = pack_rings(shell)
            rows.append(
                {
                    "gadm_code": f"{country_code}.{i+1}.{j+1}_1",
                    "country_code": country_code,
                    "ring_sizes": sizes,
                    "coords": coords,
                }
            )
    return pd.DataFrame(rows)


# --------------------------------------------------------------- streets

def synth_streets(
    nx: int = 3, ny: int = 3, grid: int = 3, country_code: str = "AAA",
    seed: int = 42,
) -> pd.DataFrame:
    """OSM-like street linestrings spanning the admin grid.

    ``grid`` interior lines per direction per admin unit → each unit
    polygonizes into (grid+1)² blocks. The LAST admin unit gets no
    interior streets. Adds per-unit dangles and one footway row.
    Linestrings stored as flat [x0,y0,x1,y1,...] coords.
    """
    rng = np.random.default_rng(seed)
    rows = []
    sid = 0

    def add(coords: np.ndarray, highway: str):
        nonlocal sid
        rows.append(
            {
                "street_id": sid,
                "highway": highway,
                "coords": coords.reshape(-1).tolist(),
                "country_code": country_code,
            }
        )
        sid += 1

    last = (nx - 1, ny - 1)
    span_x0 = ORIGIN_LON
    span_y0 = ORIGIN_LAT
    # Unit-internal grids. Lines span the full admin unit edge-to-edge
    # so they connect to the neighboring unit's network (a connected
    # city-wide street network, giving on-network streets everywhere).
    for i in range(nx):
        for j in range(ny):
            if (i, j) == last:
                continue  # zero-street unit
            x0 = span_x0 + i * ADMIN_SIZE_DEG
            y0 = span_y0 + j * ADMIN_SIZE_DEG
            for k in range(1, grid + 1):
                t = k / (grid + 1)
                add(
                    np.array([[x0 + t * ADMIN_SIZE_DEG, y0],
                              [x0 + t * ADMIN_SIZE_DEG, y0 + ADMIN_SIZE_DEG]]),
                    "residential",
                )
                add(
                    np.array([[x0, y0 + t * ADMIN_SIZE_DEG],
                              [x0 + ADMIN_SIZE_DEG, y0 + t * ADMIN_SIZE_DEG]]),
                    "residential",
                )
            # a dangling segment (must not create a block)
            dx = float(rng.uniform(0.2, 0.4)) * ADMIN_SIZE_DEG
            add(
                np.array([[x0 + dx, y0 + 0.55 * ADMIN_SIZE_DEG],
                          [x0 + dx, y0 + 0.62 * ADMIN_SIZE_DEG]]),
                "residential",
            )
    # boundary ring roads on the outer admin-grid edge so every unit's
    # first/last blocks close against a street-accessible boundary
    X1 = span_x0 + nx * ADMIN_SIZE_DEG
    Y1 = span_y0 + ny * ADMIN_SIZE_DEG
    add(np.array([[span_x0, span_y0], [X1, span_y0]]), "primary")
    add(np.array([[X1, span_y0], [X1, Y1]]), "primary")
    add(np.array([[X1, Y1], [span_x0, Y1]]), "primary")
    add(np.array([[span_x0, Y1], [span_x0, span_y0]]), "primary")
    # interior admin-boundary roads (so unit edges are streets too)
    for i in range(1, nx):
        x = span_x0 + i * ADMIN_SIZE_DEG
        add(np.array([[x, span_y0], [x, Y1]]), "secondary")
    for j in range(1, ny):
        y = span_y0 + j * ADMIN_SIZE_DEG
        add(np.array([[span_x0, y], [X1, y]]), "secondary")
    # one footway (excluded from blocking, kept in streets output)
    add(
        np.array([[span_x0 + 0.1 * ADMIN_SIZE_DEG, span_y0 + 0.1 * ADMIN_SIZE_DEG],
                  [span_x0 + 0.3 * ADMIN_SIZE_DEG, span_y0 + 0.3 * ADMIN_SIZE_DEG]]),
        "footway",
    )
    return pd.DataFrame(rows)


# ----------------------------------------------------------------- pages

def _make_pages_pdf(idx: np.ndarray, seed: int = 42) -> pd.DataFrame:
    """Vectorized page synthesis for a batch of global row indices."""
    rng = np.random.default_rng(seed)  # global params, index-keyed draws below
    n = len(idx)
    # per-row deterministic randomness from the row index (stable
    # regardless of partitioning)
    h = (idx.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) & np.uint64(2**64 - 1)
    u1 = ((h >> np.uint64(11)).astype(np.float64)) / float(2**53)
    h2 = (h ^ (h >> np.uint64(33))) * np.uint64(0xC2B2AE3D27D4EB4F)
    u2 = ((h2 >> np.uint64(11)).astype(np.float64)) / float(2**53)
    h3 = (h2 ^ (h2 >> np.uint64(29))) * np.uint64(0x165667B19E3779F9)
    u3 = ((h3 >> np.uint64(11)).astype(np.float64)) / float(2**53)

    nx = ny = 3
    ext = ADMIN_SIZE_DEG
    # skewed mixture: 60% in 3 hotspot clusters, 40% uniform
    hot = np.array(
        [
            [ORIGIN_LON + 0.35 * ext, ORIGIN_LAT + 0.35 * ext],
            [ORIGIN_LON + 1.5 * ext, ORIGIN_LAT + 1.5 * ext],
            [ORIGIN_LON + 2.4 * ext, ORIGIN_LAT + 0.6 * ext],
        ]
    )
    which = (u1 * 5).astype(int)  # 0,1,2 hotspot; 3,4 uniform
    # hotspot spread ~0.8 admin units: dense tiles (exercises salting /
    # skew handling) without collapsing the whole cluster into a single
    # block — a city-density profile rather than a point mass
    lon = np.where(
        which < 3,
        hot[np.clip(which, 0, 2), 0] + (u2 - 0.5) * 0.8 * ext,
        ORIGIN_LON + u2 * nx * ext,
    )
    lat = np.where(
        which < 3,
        hot[np.clip(which, 0, 2), 1] + (u3 - 0.5) * 0.8 * ext,
        ORIGIN_LAT + u3 * ny * ext,
    )
    lon = np.clip(lon, ORIGIN_LON + 1e-6, ORIGIN_LON + nx * ext - 1e-6)
    lat = np.clip(lat, ORIGIN_LAT + 1e-6, ORIGIN_LAT + ny * ext - 1e-6)

    lang = np.array(LANGS, dtype=object)[idx % len(LANGS)]
    words = np.array(
        [" ".join(LANG_WORDS[LANGS[g]] * 3) for g in range(len(LANGS))], dtype=object
    )[idx % len(LANGS)]
    url = pd.Series(idx).map(lambda i: f"https://site-{i % 997}.example/page/{i}")
    text = (
        pd.Series(words)
        + " geo:"
        + pd.Series(lat).map(lambda v: f"{v:.6f}")
        + ","
        + pd.Series(lon).map(lambda v: f"{v:.6f}")
        + " id:"
        + pd.Series(idx).astype(str)
    )
    html = text.map(page_html)
    warc_ts = pd.to_datetime("2025-01-01") + pd.to_timedelta(idx % 86400, unit="s")
    return pd.DataFrame(
        {
            "url": url.astype(object),
            "warc_ts": warc_ts,
            "html": html,
            "text": text.astype(object),
            "lang": pd.Series(lang, dtype=object),
        }
    )


def synth_pixels(
    nx: int = 3, ny: int = 3, pix_deg: float = 0.004, seed: int = 7,
    margin: int = 1,
) -> pd.DataFrame:
    """Raster-analogue pixel table over the admin extent (+margin
    pixels beyond it, exercising the stage-3 residual path). Mirrors
    the reference's flattened pixel tables
    (kblock/batch_3_model_population.py:126-172)."""
    rng = np.random.default_rng(seed)
    x0 = ORIGIN_LON - margin * pix_deg
    y0 = ORIGIN_LAT - margin * pix_deg
    ncx = int(np.ceil(nx * ADMIN_SIZE_DEG / pix_deg)) + 2 * margin
    ncy = int(np.ceil(ny * ADMIN_SIZE_DEG / pix_deg)) + 2 * margin
    rows = []
    pid = 0
    for i in range(ncx):
        for j in range(ncy):
            rows.append(
                {
                    "pixel_id": pid,
                    "xmin": x0 + i * pix_deg,
                    "ymin": y0 + j * pix_deg,
                    "xmax": x0 + (i + 1) * pix_deg,
                    "ymax": y0 + (j + 1) * pix_deg,
                    "population": float(np.round(rng.uniform(0, 120), 2)),
                }
            )
            pid += 1
    return pd.DataFrame(rows)


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def synth_pages_spark(spark, n_pages: int, partitions: int | None = None):
    """Distributed pages table: spark.range → mapInPandas (scales to
    any row count; generation itself never touches the driver)."""
    parts = partitions or spark.sparkContext.defaultParallelism
    rng_df = spark.range(0, n_pages, 1, parts)

    def gen(batches):
        for b in batches:
            yield _make_pages_pdf(b["id"].to_numpy())

    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)
