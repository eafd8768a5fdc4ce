"""The flagship DAG: pages → geocoded points → blocks → PIP join →
k-complexity. One Spark plan, three shuffles total (by gadm_code for
delineation, by cell for the PIP join when not broadcast, by block_id
for the k kernel).

Mirrors the reference pipeline stages 1b → 2 → 4
(kblock/batch_1b_generate_blocks.py, batch_2_prepare_buildings.py,
batch_4_compute_k.py) as a single declarative dataflow.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .geo.tiling import DEFAULT_CELL_DEG, cells_covering_line, ring_cells_expr
from .io.synth import synth_admin, synth_pages_spark, synth_streets
from .kernels.blocks import delineate_blocks
from .kernels.complexity import K_SCHEMA
from .kernels.extract import geocoded_points
from .ops.spatial_join import assign_points_to_polygons, make_covering_cells_udf


def make_line_cells_udf(cell_deg: float = DEFAULT_CELL_DEG):
    """Street line → the cells it passes through (exact traversal; the
    line-side analogue of polygon covering)."""

    @pandas_udf(ArrayType(LongType()))
    def line_cells(coords: pd.Series) -> pd.Series:
        return pd.Series(
            [cells_covering_line(c, cell_deg).tolist() for c in coords]
        )

    return line_cells


def streets_near_blocks(
    streets: DataFrame, blocks: DataFrame, cell_deg: float = DEFAULT_CELL_DEG
) -> DataFrame:
    """(block_id, s_coords) pairs: streets within one tile ring
    (≥ 2× the 100 m buffer radius) of each block — the distributed
    version of the reference's 100 m-buffered street↔block overlay
    (batch_4:545-549). Tile equi-join, then distinct pairs."""
    lc = make_line_cells_udf(cell_deg)
    s_cells = (
        streets.select("street_id", "coords")
        .withColumn("cell", F.explode(lc("coords")))
        .select("street_id", "cell", F.col("coords").alias("s_coords"))
    )
    cov = make_covering_cells_udf(cell_deg)("ring_sizes", "coords")
    near = F.array_distinct(F.flatten(F.transform(cov, lambda c: ring_cells_expr(c, 1))))
    b_cells = blocks.select("block_id", F.explode(near).alias("cell"))
    pairs = (
        b_cells.join(s_cells, "cell", "inner")
        .select("block_id", "street_id")
        .distinct()
    )
    return pairs.join(
        streets.select("street_id", F.col("coords").alias("s_coords")), "street_id"
    ).select(F.col("block_id").alias("b_code"), "s_coords")


def _pack_blocks(
    blocks: DataFrame,
    buildings: DataFrame,
    streets: DataFrame,
    cell_deg: float,
    nparts: int,
    with_urls: bool = False,
) -> DataFrame:
    """One COMPACT row per block — geometry + packed building points +
    packed nearby street lines — placed onto exactly ``nparts``
    partitions by per-block kernel cost (linear in building count
    after the vectorized kernel).

    Replaces the round-1 cogroup: packing shuffles the same bytes the
    cogroup did, but the resulting one-row-per-block table can be
    placed with :func:`balanced_assign`, so a 12k-building block never
    shares a partition with another heavy block. Hash placement left a
    12 s straggler worker against a 3.7 s mean at local[32]
    (BENCH_r01); sorted-greedy placement bounds the tail by the single
    biggest block. (The reference hand-balances the same stage with
    weighted_qcut chunking, batch_4:508-516.)
    """
    from .ops.partitioning import balanced_tokens

    # collect_lists issued in ONE .agg() consume the identical row
    # stream, so b_lons[i] ↔ b_lats[i] (↔ b_urls[i]) stay pairwise
    # aligned — flat double arrays, no per-building struct/array
    # object churn through the aggregation
    agg = [
        F.collect_list("lon").alias("b_lons"),
        F.collect_list("lat").alias("b_lats"),
    ]
    if with_urls:
        agg.append(F.collect_list("url").alias("b_urls"))
    # the packing aggregate is materialized once (deferred
    # localCheckpoint): the cost map derives building counts from the
    # SAME aggregated table (size of the packed array == count(*)),
    # and the final join reuses it — one pass over the building set
    # instead of two (the count-only subtree this replaces re-scanned
    # all buildings because balanced_tokens eagerly checkpoints its
    # cost input)
    b_packed = (
        buildings.groupBy("block_id").agg(*agg).localCheckpoint(eager=False)
    )
    s_packed = (
        streets_near_blocks(streets, blocks, cell_deg)
        .groupBy("b_code")
        .agg(F.collect_list("s_coords").alias("street_lines"))
        .withColumnRenamed("b_code", "block_id")
    )
    packed = (
        blocks.select("block_id", "ring_sizes", "coords")
        .join(b_packed, "block_id", "left")
        .join(s_packed, "block_id", "left")
    )
    # kernel cost ≈ linear in building count (vectorized kernel) with
    # a fixed floor
    sizes = (
        blocks.select("block_id")
        .join(
            b_packed.select("block_id", F.size("b_lons").alias("__n")),
            "block_id",
            "left",
        )
        .withColumn(
            "__cost", (F.coalesce(F.col("__n"), F.lit(0)) + F.lit(50)).cast("double")
        )
    )
    tok = balanced_tokens(sizes, "__cost", "block_id", nparts)
    return packed.join(tok, "block_id").repartition(nparts, "__part_token")


def _unpacked_blocks(pdf: pd.DataFrame):
    """Packed block rows → (row, shell, holes, points, street lines,
    point order) per block. Points come in one canonical order:
    collect_list order depends on the upstream join/dedupe plan, and
    the kernel's float sums (centroid, layer peel seeds) are
    association-order sensitive — lexsort makes every join strategy
    (broadcast / salted shuffle / local dedupe) bit-identical."""
    from .geo.geom import unpack_rings

    for row in pdf.itertuples(index=False):
        shell, holes = unpack_rings(row.ring_sizes, row.coords)
        if row.b_lons is not None and len(row.b_lons):
            pts = np.stack(
                [
                    np.asarray(row.b_lons, dtype=np.float64),
                    np.asarray(row.b_lats, dtype=np.float64),
                ],
                axis=1,
            )
        else:
            pts = np.zeros((0, 2))
        order = np.lexsort((pts[:, 1], pts[:, 0]))
        lines = [
            np.asarray(c, dtype=np.float64).reshape(-1, 2)
            for c in (row.street_lines if row.street_lines is not None else [])
        ]
        yield row, shell, holes, pts[order], lines, order


def _packed_k_iter(batches):
    """mapInPandas kernel: one packed block row → one k-complexity
    row. Zero-building blocks flow through too (k=1,
    building_count=0 — the reference computes k only for blocks with
    buildings, batch_4:466-506, and fills the rest in the combine
    stage; here the n=0 path also yields their true street lengths)."""
    from .kernels.complexity import K_COLUMNS, compute_k_block

    for pdf in batches:
        rows = []
        for row, shell, holes, pts, lines, _ in _unpacked_blocks(pdf):
            k = compute_k_block(shell, holes, pts, lines)
            k["block_id"] = row.block_id
            rows.append(k)
        if rows:
            yield pd.DataFrame(rows)[K_COLUMNS]


def compute_k(
    blocks: DataFrame,
    buildings: DataFrame,
    streets: DataFrame,
    cell_deg: float = DEFAULT_CELL_DEG,
    nparts: int | None = None,
) -> DataFrame:
    """k-complexity per block.

    buildings: output of the PIP join — (block_id, lon, lat, ...).
    streets: the blocking street set; the reference also feeds
    compute-k from the delineation streets layer (batch_4:521-549).
    """
    spark = blocks.sparkSession
    # 2× cores (was 4×): balanced-greedy placement already bounds the
    # straggler tail by the single biggest block, so halving the task
    # count halves per-task mapInPandas/Arrow overhead without a
    # balance cost — interleaved A/B at 720k pages/32c: 413-449 vs
    # 346-402 blocks/s, np2x won all 5 pairs (bench_runs/r8_geo_ab_np.json)
    nparts = nparts or spark.sparkContext.defaultParallelism * 2
    packed = _pack_blocks(blocks, buildings, streets, cell_deg, nparts)
    return packed.mapInPandas(_packed_k_iter, K_SCHEMA)


def _packed_layers_iter(batches):
    from .kernels.complexity import compute_k_block

    for pdf in batches:
        outs = []
        for row, shell, holes, pts, lines, order in _unpacked_blocks(pdf):
            if len(pts) == 0:
                continue
            k = compute_k_block(shell, holes, pts, lines)
            outs.append(
                pd.DataFrame(
                    {
                        "block_id": row.block_id,
                        "url": np.asarray(row.b_urls, dtype=object)[order],
                        "layer": k["layer_assignment"].astype(np.int32),
                        "k_complexity": np.int32(k["k_complexity"]),
                    }
                )
            )
        if outs:
            yield pd.concat(outs, ignore_index=True)


def compute_layers(
    blocks: DataFrame,
    buildings: DataFrame,
    streets: DataFrame,
    cell_deg: float = DEFAULT_CELL_DEG,
    nparts: int | None = None,
) -> DataFrame:
    """Per-building concentric-layer membership (K2,
    batch_4:190-375): (block_id, url, layer, k_complexity)."""
    from .kernels.complexity import LAYERS_SCHEMA

    spark = blocks.sparkSession
    # same 2×-cores packing as compute_k (see the A/B note there)
    nparts = nparts or spark.sparkContext.defaultParallelism * 2
    packed = _pack_blocks(
        blocks, buildings, streets, cell_deg, nparts, with_urls=True
    )
    return packed.mapInPandas(_packed_layers_iter, LAYERS_SCHEMA)


def run_full_build(
    spark: SparkSession,
    out_dir: str,
    n_pages: int = 10_000,
    nx: int = 3,
    ny: int = 3,
    grid: int = 3,
    cell_deg: float | None = None,
):
    """The reference user's whole per-country job sequence (deploy
    jobs 1b→2→4→3→5) as ONE resumable Spark build: blocks → PIP join →
    k-complexity → dasymetric population → combined block table →
    regional rollup, written as hive-partitioned parquet with a
    checkpoint manifest for the block layer. Returns the output paths.
    """
    from pyspark.sql import functions as F  # noqa: F811

    from .io.manifest import CheckpointManifest, checkpointed_run
    from .io.sinks import write_parquet
    from .io.synth import synth_pixels
    from .ops.combine import combine_blocks, regional_rollup
    from .ops.population import allocate_population
    from .ops.validate import validate_pipeline_outputs

    dfs = run_pipeline(spark, n_pages=n_pages, nx=nx, ny=ny, grid=grid,
                       cell_deg=cell_deg)
    dfs["blocks"] = dfs["blocks"].cache()
    dfs["buildings"] = dfs["buildings"].cache()
    dfs["complexity"] = dfs["complexity"].cache()
    validate_pipeline_outputs(dfs)  # the reference's inline guards

    buildings = dfs["buildings"].withColumn(
        "building_area",
        (F.pmod(F.xxhash64("url"), F.lit(90)) + F.lit(10)).cast("double"),
    ).select("block_id", "gadm_code", "lon", "lat", "building_area")
    pixels = spark.createDataFrame(synth_pixels(nx, ny))
    population = allocate_population(pixels, buildings, dfs["blocks"]).cache()
    combined = combine_blocks(dfs["blocks"], dfs["complexity"], population)
    rollup = regional_rollup(combined)

    paths = {
        "blocks": f"{out_dir}/blocks",
        "combined": f"{out_dir}/combined",
        "rollup": f"{out_dir}/rollup",
    }
    # resumable block layer: per-gadm checkpointed partitions
    man = CheckpointManifest(spark, f"{out_dir}/manifest")
    checkpointed_run(
        spark,
        dfs["blocks"].withColumn("part_key", F.col("gadm_code")),
        "part_key",
        lambda df: df,
        paths["blocks"],
        man,
    )
    write_parquet(combined, paths["combined"], ["gadm_code"])
    write_parquet(rollup, paths["rollup"])
    return paths


def run_pipeline(
    spark: SparkSession,
    n_pages: int = 10_000,
    nx: int = 3,
    ny: int = 3,
    grid: int = 3,
    cell_deg: float | None = None,
    broadcast_polys: bool = True,
    salt_buckets: int = 0,
    cache_intermediate: bool = True,
):
    """Build the full DAG on synthetic inputs; returns dict of
    DataFrames.

    blocks/buildings feed multiple downstream branches (kernel
    cogroup, empty-block anti-join, street assignment) — cache them so
    delineation and the PIP join run once (the reference likewise
    materializes each stage to parquet between batches).

    cell_deg None → derived from the block size distribution
    (ops/spatial_join.suggest_pip_cell_deg): results are exact at any
    cell size, only the candidate ratio changes."""
    from .ops.spatial_join import suggest_pip_cell_deg

    admin = spark.createDataFrame(synth_admin(nx, ny))
    streets = spark.createDataFrame(synth_streets(nx, ny, grid))
    blocks = delineate_blocks(admin, streets)
    if cache_intermediate:
        blocks = blocks.cache()
    if cell_deg is None:
        cell_deg = suggest_pip_cell_deg(blocks)
    pages = synth_pages_spark(spark, n_pages)
    points = geocoded_points(pages, cell_deg)
    assigned = assign_points_to_polygons(
        points,
        blocks,
        point_cols=["url", "lon", "lat"],
        poly_key="block_id",
        poly_cols=["gadm_code"],
        cell_deg=cell_deg,
        salt_buckets=salt_buckets,
        broadcast_polys=broadcast_polys,
    )
    if cache_intermediate:
        assigned = assigned.cache()
    complexity = compute_k(blocks, assigned, streets, cell_deg)
    return {
        "admin": admin,
        "streets": streets,
        "blocks": blocks,
        "pages": pages,
        "points": points,
        "buildings": assigned,
        "complexity": complexity,
    }
