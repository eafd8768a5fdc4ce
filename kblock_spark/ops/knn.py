"""kNN join via tile ring expansion.

The reference uses ``gpd.sjoin_nearest`` (k=1) for coast fixes
(kblock/batch_1a_prepare_gadm.py:244-245). Distributed analogue (the
north rule's "kNN via cell-neighborhood expansion"): iterate growing
Chebyshev rings of grid cells; a neighbor found at ring r is final
once its distance ≤ r·cell (no closer point can hide in an unvisited
ring). Unresolved rows continue to the next round; each round is one
equi-join — no cross join ever materializes.

Distances are computed in degree space for the ring guarantee (cell
geometry is a lon/lat grid) and reported in metres via the Mercator
projection. At planetary scale replace the degree metric with a
geodesic inside the same loop structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..geo.tiling import DEFAULT_CELL_DEG, ring_cells_expr


def knn_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    k: int = 1,
    cell_deg: float = DEFAULT_CELL_DEG,
    max_rings: int = 6,
) -> DataFrame:
    """→ left_key, right_key (as ``nn_key``), rank, dist_deg.

    Both inputs need (key, lon, lat, cell). Exact within
    ``max_rings`` cells; beyond that, the closest candidate seen is
    returned (bounded approximation, flagged by dist).
    """
    r_side = right.select(
        F.col(right_key).alias("nn_key"),
        F.col("lon").alias("r_lon"),
        F.col("lat").alias("r_lat"),
        F.col("cell").alias("r_cell"),
    )
    unresolved = left.select(left_key, "lon", "lat", "cell")
    resolved_parts: list[DataFrame] = []
    acc: DataFrame | None = None  # best candidates so far
    spark = left.sparkSession
    # geometric radius schedule: each round is a full Spark job, so
    # expand 0→1→2→4→8… instead of +1 (same exactness guarantee —
    # accept once the k-th distance ≤ current radius — ~log rounds)
    radii: list[int] = []
    r = 0
    while r <= max_rings:
        radii.append(r)
        r = 1 if r == 0 else r * 2
    if radii[-1] != max_rings:
        radii.append(max_rings)
    prev_r = -1
    for r in radii:
        ring = ring_cells_expr(F.col("cell"), r, prev_r)
        prev_r = r
        cand = (
            unresolved.withColumn("jcell", F.explode(ring))
            .join(r_side, F.col("jcell") == F.col("r_cell"), "inner")
            # explicit x*x (not **2 → Math.pow, which is only 1-ulp
            # accurate): keeps the distance bit-identical to any IEEE
            # engine computing dx*dx + dy*dy — the DuckDB oracle for
            # geo_knn relies on this
            .withColumn(
                "dist_deg",
                F.sqrt(
                    (F.col("lon") - F.col("r_lon"))
                    * (F.col("lon") - F.col("r_lon"))
                    + (F.col("lat") - F.col("r_lat"))
                    * (F.col("lat") - F.col("r_lat"))
                ),
            )
            .select(left_key, "lon", "lat", "cell", "nn_key", "dist_deg")
        )
        acc = cand if acc is None else acc.unionByName(cand)
        # truncate lineage each round — the accumulated plan otherwise
        # re-executes every prior round's join on each action
        acc = acc.localCheckpoint(eager=True)
        from pyspark.sql import Window

        w = Window.partitionBy(left_key).orderBy("dist_deg", "nn_key")
        ranked = acc.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k
        )
        # final iff k-th candidate within the ring guarantee radius
        guarantee = r * cell_deg
        kth = ranked.groupBy(left_key).agg(
            F.max("dist_deg").alias("kth_dist"), F.count("*").alias("n_found")
        )
        final_keys = kth.where(
            (F.col("n_found") >= k) & (F.col("kth_dist") <= guarantee)
        ).select(left_key)
        if r == max_rings:
            final_keys = kth.select(left_key)  # accept best-effort
        newly = ranked.join(final_keys, left_key, "left_semi").select(
            left_key, "nn_key", "rank", "dist_deg"
        )
        resolved_parts.append(newly.localCheckpoint(eager=True))
        unresolved = unresolved.join(final_keys, left_key, "left_anti").localCheckpoint(
            eager=True
        )
        acc = acc.join(final_keys, left_key, "left_anti")
        if unresolved.count() == 0:
            break
    out = resolved_parts[0]
    for p in resolved_parts[1:]:
        out = out.unionByName(p)
    return out
