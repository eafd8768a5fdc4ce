"""The query mix: ``REGISTRY`` queries over seeded tables, each run and
collected inside a ``queries.<name>`` span, then checked against its
DuckDB oracle SQL with the typed value hash.

Collecting forces the query as a noop write would, and hands the
checks the very rows that were timed; a second, checking pass would
cost a fifth of the run time."""

from __future__ import annotations

from kblock_spark.queries import REGISTRY

from . import checks as C

# group (the engine layer doing the work) → queries
GROUPS = {
    "io.tableformat": ("tbl_merge_scan",),
    "ops.components": ("d10_dup_components",),
    "ops.similarity": ("d07_minhash_lsh_pairs", "e02_embedding_dup_pairs"),
    "streaming": ("s02_stream_dedup",),
    "queries.relational": ("q01_pricing_summary", "q21_sessionization"),
    "queries.geo": ("geo_blocks_oracle",),
}
TABLES = ("documents", "embeddings", "events", "lineitem")


def group_of(name: str) -> str:
    for g, names in GROUPS.items():
        if name in names:
            return g
    raise KeyError(name)


def run_pass(spark, sf_dir: str, names: list[str], spans, chk: C.Checks) -> dict:
    """Run and collect each query; → name → (columns, rows)."""
    out = {}
    for name in names:
        fn, _sql = REGISTRY[name]
        with spans.span(f"queries.{name}", group=group_of(name)):
            df = chk.call(name, fn, spark, sf_dir)
            out[name] = (df.columns, [tuple(r) for r in chk.call(name, df.collect)])
    return out


def oracle_db(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_oracles(sf_dir: str, results: dict, chk: C.Checks) -> None:
    """Each query's rows against its oracle SQL: row count, column
    names and the order-insensitive typed value hash."""
    con = oracle_db(sf_dir)
    try:
        for name, (scols, srows) in results.items():
            res = con.execute(REGISTRY[name][1])
            dcols = [d[0] for d in res.description]
            drows = [
                tuple(v.item() if hasattr(v, "item") else v for v in row)
                for row in res.df().itertuples(index=False, name=None)
            ]
            ok = (
                len(srows) == len(drows)
                and sorted(scols) == sorted(dcols)
                and C.vhash(scols, srows) == C.vhash(dcols, drows)
            )
            chk.check(f"oracle.{name}", ok,
                      f"{len(srows)} rows vs oracle {len(drows)}, hash differs")
    finally:
        con.close()
