"""Seeded inputs for the benchmark workloads.

The engine receives only the DataFrames and parquet files built here.
Pages are drawn from the seed over the workload's whole admin extent
(``io/synth.py``'s page generator pins every page to the first 3×3
admin units and ignores its seed, so the benchmark does not use it).
Streets and pixels come from the engine's own seeded generators.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from kblock_spark.io.synth import (
    ADMIN_SIZE_DEG,
    LANG_WORDS,
    LANGS,
    ORIGIN_LAT,
    ORIGIN_LON,
    page_html,
    synth_admin,
    synth_pixels,
    synth_streets,
)

# hotspot centres as fractions of the admin extent; the seed draws the
# points, not the centres, so every seed has the same load profile
HOTSPOTS = ((0.15, 0.15), (0.5, 0.55), (0.8, 0.25))


def page_points(n: int, nx: int, ny: int, hot_share: float, seed: int):
    """(lon, lat) of ``n`` pages, rounded to the 6 decimals the page
    text carries. ``hot_share`` of them fall in three square hotspots
    0.8 admin units wide, the rest uniformly over the extent."""
    rng = np.random.default_rng(seed)
    w, h = nx * ADMIN_SIZE_DEG, ny * ADMIN_SIZE_DEG
    lon = ORIGIN_LON + rng.uniform(0.0, w, n)
    lat = ORIGIN_LAT + rng.uniform(0.0, h, n)
    hot = rng.random(n) < hot_share
    which = rng.integers(0, len(HOTSPOTS), n)
    cx = ORIGIN_LON + np.array([c[0] for c in HOTSPOTS])[which] * w
    cy = ORIGIN_LAT + np.array([c[1] for c in HOTSPOTS])[which] * h
    half = 0.4 * ADMIN_SIZE_DEG
    lon = np.where(hot, cx + rng.uniform(-half, half, n), lon)
    lat = np.where(hot, cy + rng.uniform(-half, half, n), lat)
    eps = 1e-5
    lon = np.clip(lon, ORIGIN_LON + eps, ORIGIN_LON + w - eps)
    lat = np.clip(lat, ORIGIN_LAT + eps, ORIGIN_LAT + h - eps)
    # the engine parses the text token, so the reference points are the
    # same decimal strings read back as doubles
    lon_s = np.char.mod("%.6f", lon)
    lat_s = np.char.mod("%.6f", lat)
    return lon_s, lat_s, lon_s.astype(np.float64), lat_s.astype(np.float64)


def pages_pdf(n: int, nx: int, ny: int, hot_share: float, seed: int):
    """The pages table ``(url, warc_ts, html, text, lang)`` with the
    ``geo:lat,lon`` token and ``page_html`` wrapper of the engine's own
    generator. Returns (pages, reference points: url, lon, lat)."""
    lon_s, lat_s, lon, lat = page_points(n, nx, ny, hot_share, seed)
    idx = np.arange(n)
    g = idx % len(LANGS)
    words = np.array([" ".join(LANG_WORDS[x] * 3) for x in LANGS], dtype=object)[g]
    url = [f"https://site-{i % 997}.example/s{seed}/page/{i}" for i in idx]
    text = [
        f"{w} geo:{la},{lo} id:{i}" for w, la, lo, i in zip(words, lat_s, lon_s, idx)
    ]
    pages = pd.DataFrame(
        {
            "url": url,
            "warc_ts": pd.to_datetime("2025-01-01") + pd.to_timedelta(idx % 86400, unit="s"),
            "html": [page_html(t) for t in text],
            "text": text,
            "lang": np.array(LANGS, dtype=object)[g],
        }
    )
    ref = pd.DataFrame({"url": url, "lon": lon, "lat": lat})
    return pages, ref


class CityInputs:
    """Spark DataFrames (cached) plus the driver-side reference copies
    the checks compare against."""

    def __init__(self, spark, spec: dict, seed: int):
        nx, ny, grid = spec["nx"], spec["ny"], spec["grid"]
        self.admin_pdf = synth_admin(nx, ny)
        self.pixels_pdf = synth_pixels(nx, ny, seed=seed)
        pages, self.ref = pages_pdf(spec["pages"], nx, ny, spec["hot_share"], seed)
        self.admin = spark.createDataFrame(self.admin_pdf).cache()
        self.streets = spark.createDataFrame(synth_streets(nx, ny, grid, seed=seed)).cache()
        self.pixels = spark.createDataFrame(self.pixels_pdf).cache()
        self.pages = spark.createDataFrame(pages).cache()
        for df in (self.admin, self.streets, self.pixels, self.pages):
            df.count()

    def unpersist(self):
        for df in (self.admin, self.streets, self.pixels, self.pages):
            df.unpersist()


# ------------------------------------------------------ query tables
#
# The query tables copy the shape of the sf0.1 test tables (TESTDATA.md),
# measured on them with DuckDB; ``scale`` is the share of their row
# counts. sf0.1 has 5,000 documents, 2,000 embeddings, 100,000 events
# from 1,500 users and 600,000 lineitems.

SF01_ROWS = {"documents": 5000, "embeddings": 2000, "events": 100_000,
             "lineitem": 600_000}
SF01_USERS = 1500
# the 30 words every sf0.1 document is drawn from, about equally often
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# sf0.1 documents: lang shares; 20 sources, round robin
DOC_LANGS = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
N_SOURCES = 20
# sf0.1 documents: 250 of 5,000 are another document's text plus the
# token "dup"; its 8 exact duplicates are two such copies of one text
NEAR_DUP_SHARE = 250 / 5000


def _documents(rng, n: int) -> pd.DataFrame:
    """Texts of 10..100 words drawn uniformly from ``VOCAB`` (the sf0.1
    length and word distributions), with the sf0.1 near-dup share
    planted; exact duplicates arise as in sf0.1."""
    texts = [
        " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(k))])
        for k in rng.integers(10, 101, n)
    ]
    near = rng.choice(n, int(round(n * NEAR_DUP_SHARE)), replace=False)
    for j in near:
        texts[j] = f"{texts[int(rng.integers(0, n))]} dup"
    langs = list(DOC_LANGS)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [langs[j] for j in rng.choice(len(langs), n, p=list(DOC_LANGS.values()))],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    """Unit vectors in 64 dimensions with one of 10 labels. In sf0.1
    the per-label means are as small as sampling noise and no two
    vectors have cosine above 0.61, so the vectors are isotropic
    random directions and the labels uniform."""
    v = rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v.astype(np.float32)),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def _events(rng, n: int, users: int) -> pd.DataFrame:
    """sf0.1 events: uniform over 30 days from 2024-01-01 and over the
    users and five event types; value exponential with mean 50,
    rounded to cents; props ``{"k": 0..99}``."""
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]") + t0
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": rng.choice(["signup", "click", "error", "purchase", "view"], n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _lineitem(rng, n: int) -> pd.DataFrame:
    """sf0.1 lineitem: keys uniform over n/4 orders, n/30 parts and
    n/600 suppliers; quantity 1..50, price 900..105,000, discount
    0..0.10, tax 0..0.08; flags uniform; ship dates 1995-01-02 plus
    0..2,498 days."""
    d0 = np.datetime64("1995-01-02T00:00:00", "us")
    days = rng.integers(0, 2499, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, max(n // 4, 1), n).astype(np.int64),
            "l_partkey": rng.integers(0, max(n // 30, 1), n).astype(np.int64),
            "l_suppkey": rng.integers(0, max(n // 600, 1), n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": d0 + days,
        }
    )


def write_query_tables(sf_dir: str, scale: float, seed: int) -> None:
    """Write the tables the query mix reads as parquet under
    ``sf_dir``, with the schemas of the engine's test data and
    ``scale`` × the sf0.1 row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    rows = {t: max(int(round(n * scale)), 1) for t, n in SF01_ROWS.items()}
    os.makedirs(sf_dir, exist_ok=True)
    tables = {
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
        "events": _events(rng, rows["events"], max(int(round(SF01_USERS * scale)), 1)),
        "lineitem": _lineitem(rng, rows["lineitem"]),
    }
    for name, pdf in tables.items():
        t = pa.Table.from_pandas(pdf, preserve_index=False)
        if name == "embeddings":
            t = t.set_column(
                t.schema.get_field_index("embedding"),
                "embedding",
                pa.array([x for x in pdf["embedding"]], type=pa.list_(pa.float32())),
            )
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
