"""The city build: the public calls ``run_full_build`` makes, in its
order and with exactly its caches, each in a span named after the
engine module of the call. Spark is lazy, so a layer's work runs in
(and is billed to) the call that forces it: ``suggest_pip_cell_deg``
fills the blocks cache; ``compute_k`` balances its packing eagerly,
which runs geocoding and the PIP join; ``validate_pipeline_outputs``
runs the k kernel; the writes run population and combine. The layer
numbers are those of the calls, as a user of the engine pays them.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kblock_spark.io.manifest import CheckpointManifest, checkpointed_run
from kblock_spark.io.sinks import write_parquet
from kblock_spark.kernels.blocks import delineate_blocks
from kblock_spark.kernels.extract import geocoded_points
from kblock_spark.ops.combine import combine_blocks, regional_rollup
from kblock_spark.ops.population import allocate_population
from kblock_spark.ops.spatial_join import (
    assign_points_to_polygons,
    polygons_with_cells,
    suggest_pip_cell_deg,
)
from kblock_spark.ops.validate import validate_pipeline_outputs
from kblock_spark.pipeline import compute_k

from . import checks as C

LAYERS = (
    "kernels.blocks", "kernels.extract", "ops.spatial_join",
    "pipeline.compute_k", "ops.validate", "ops.population", "ops.combine",
    "io.manifest", "io.sinks",
)


def build(spark, inp, out_dir: str, spans, chk: C.Checks) -> dict:
    """One whole build. Returns the outputs; the caller unpersists the
    cached ones with :func:`release`."""
    with spans.span("kernels.blocks", call="delineate_blocks"):
        blocks = chk.call("delineate_blocks", delineate_blocks, inp.admin, inp.streets)
        blocks = blocks.cache()
    with spans.span("ops.spatial_join", call="suggest_pip_cell_deg"):
        cell_deg = chk.call("suggest_pip_cell_deg", suggest_pip_cell_deg, blocks)
    with spans.span("kernels.extract", call="geocoded_points"):
        points = chk.call("geocoded_points", geocoded_points, inp.pages, cell_deg)
    with spans.span("ops.spatial_join", call="assign_points_to_polygons"):
        assigned = chk.call(
            "assign_points_to_polygons", assign_points_to_polygons,
            points, blocks, point_cols=["url", "lon", "lat"],
            poly_key="block_id", poly_cols=["gadm_code"],
            cell_deg=cell_deg, broadcast_polys=True,
        ).cache()
    with spans.span("pipeline.compute_k", call="compute_k"):
        complexity = chk.call(
            "compute_k", compute_k, blocks, assigned, inp.streets, cell_deg
        ).cache()
    with spans.span("ops.validate", call="validate_pipeline_outputs"):
        chk.call(
            "validate_pipeline_outputs", validate_pipeline_outputs,
            {"blocks": blocks, "buildings": assigned, "complexity": complexity},
        )
    with spans.span("ops.population", call="allocate_population"):
        # the synthetic building footprint run_full_build derives
        buildings = assigned.withColumn(
            "building_area",
            (F.pmod(F.xxhash64("url"), F.lit(90)) + F.lit(10)).cast("double"),
        ).select("block_id", "gadm_code", "lon", "lat", "building_area")
        population = chk.call(
            "allocate_population", allocate_population, inp.pixels, buildings, blocks
        ).cache()
    with spans.span("ops.combine", call="combine_blocks"):
        combined = chk.call("combine_blocks", combine_blocks, blocks, complexity, population)
    with spans.span("ops.combine", call="regional_rollup"):
        rollup = chk.call("regional_rollup", regional_rollup, combined)

    paths = {
        "blocks": f"{out_dir}/blocks",
        "manifest": f"{out_dir}/manifest",
        "combined": f"{out_dir}/combined",
        "rollup": f"{out_dir}/rollup",
    }
    with spans.span("io.manifest", call="checkpointed_run"):
        man = CheckpointManifest(spark, paths["manifest"])
        chk.call(
            "checkpointed_run", checkpointed_run, spark,
            blocks.withColumn("part_key", F.col("gadm_code")), "part_key",
            lambda df: df, paths["blocks"], man,
        )
    with spans.span("io.sinks", call="write_parquet"):
        chk.call("write_parquet", write_parquet, combined, paths["combined"], ["gadm_code"])
    with spans.span("io.sinks", call="write_parquet"):
        chk.call("write_parquet", write_parquet, rollup, paths["rollup"])
    return {
        "cached": [blocks, assigned, complexity, population],
        "blocks": blocks, "points": points, "assigned": assigned,
        "complexity": complexity, "population": population, "combined": combined,
        "cell_deg": cell_deg, "paths": paths,
    }


def release(o: dict) -> None:
    for df in o["cached"]:
        df.unpersist()


def k_digest(o: dict) -> str:
    rows = o["complexity"].select("block_id", "k_complexity", "building_count").collect()
    return C.digest(tuple(r) for r in rows)


def files_and_mb(*dirs: str) -> tuple[int, float]:
    n, size = 0, 0
    for d in dirs:
        for root, _ds, fs in os.walk(d):
            for f in fs:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
    return n, size / 2**20


def check_outputs(spark, inp, o: dict, chk: C.Checks, seed: int, sample: int) -> dict:
    """The full output checks on one build; returns layer counts."""
    brow = o["blocks"].select("block_id", "ring_sizes", "coords").collect()
    blocks = {r["block_id"]: C.rings_of(r["ring_sizes"], r["coords"]) for r in brow}
    assigned = o["assigned"].select("url", "block_id").toPandas()
    pip = C.check_pip(chk, inp.ref, assigned, blocks, sample, seed)

    k = o["complexity"].select("block_id", "building_count").collect()
    chk.check("k.one_row_per_block",
              len(k) == len(blocks) and len({r[0] for r in k}) == len(k),
              f"{len(k)} k rows for {len(blocks)} blocks")
    nb = sum(int(r[1]) for r in k)
    chk.check("k.building_count_sum", nb == len(assigned),
              f"sum building_count {nb} != assigned {len(assigned)}")

    pix = float(inp.pixels_pdf["population"].sum())
    alloc = float(o["population"].agg(F.sum("allocated_population")).collect()[0][0] or 0.0)
    err = abs(alloc - pix) / max(abs(pix), 1e-12)
    chk.check("population.conserved", err <= 1e-9, f"rel err {err:.3e}")

    cols = ["block_id", "k_complexity", "building_count", "allocated_population"]
    written = C.digest(tuple(r) for r in o["combined"].select(*cols).collect())
    reread = C.digest(
        tuple(r) for r in spark.read.parquet(o["paths"]["combined"]).select(*cols).collect()
    )
    chk.check("sinks.combined_reread", written == reread, "parquet rows differ")
    nroll = spark.read.parquet(o["paths"]["rollup"]).count()
    chk.check("sinks.rollup_reread", nroll == len(inp.admin_pdf),
              f"{nroll} rollup rows for {len(inp.admin_pdf)} admin units")
    nblk = spark.read.parquet(o["paths"]["blocks"]).count()
    chk.check("manifest.blocks_reread", nblk == len(blocks),
              f"{nblk} block rows for {len(blocks)} blocks")
    return {"unassigned": pip["unassigned"], "conservation_err": err,
            "n_blocks": len(blocks), "n_assigned": len(assigned)}


def cover_counts(o: dict) -> tuple[int, int]:
    """(cover_cells, candidates): the polygon cell covering and the
    point⨝cell equi-join that assign_points_to_polygons refines,
    rebuilt from the same public helper and counted (traced run only,
    outside the timed spans)."""
    pc = polygons_with_cells(
        o["blocks"].select("block_id", "gadm_code", "ring_sizes", "coords"), o["cell_deg"]
    ).drop("ring_sizes", "coords").cache()
    cover = pc.count()
    cand = o["points"].join(F.broadcast(pc), on=["cell"], how="inner").count()
    pc.unpersist()
    return cover, cand
