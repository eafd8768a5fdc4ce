"""Physical-plan assertions: the declarative plans must actually get
the Catalyst treatment the architecture relies on — filter/column
pushdown into the parquet scan, broadcast joins for small dims,
whole-stage codegen on relational paths (no Python UDFs there)."""

import pytest

from kblock_spark.queries import (
    q01_pricing_summary,
    q04_revenue_by_nation,
    q05_customers_without_orders,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushdown_and_pruning(spark):
    df = q01_pricing_summary(spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan
    # column pruning: html-free narrow read — shipdate/flags/measures only
    assert "l_extendedprice" in plan and "l_orderkey" not in plan.split("ReadSchema")[-1]


def test_q04_broadcasts_dims(spark):
    plan = _plan(q04_revenue_by_nation(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    # (whole-stage-codegen markers only appear in the final AQE plan
    # after materialization; broadcast strategy is the assertion here)


def test_q05_anti_join_strategy(spark):
    plan = _plan(q05_customers_without_orders(spark, SF))
    assert "LeftAnti" in plan


def test_e02_no_cartesian_product(spark):
    """The all-pairs near-dup detector must be a bucketed equi-join —
    an O(N²) CartesianProduct/BroadcastNestedLoopJoin here is the
    100 TB scale-killer (round-1 regression)."""
    from kblock_spark.queries import e02_embedding_dup_pairs

    plan = _plan(e02_embedding_dup_pairs(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_e02_blocked_matches_bruteforce(spark):
    """Zero recall loss: the projection-blocked plan returns EXACTLY
    the brute-force pair set (several thresholds)."""
    import numpy as np
    import pandas as pd

    from kblock_spark.ops.similarity import exact_dup_pairs_blocked

    rng = np.random.default_rng(3)
    n, dim = 300, 16
    base = rng.standard_normal((n, dim))
    # plant near-duplicates
    base[50] = base[40] + rng.standard_normal(dim) * 0.05
    base[60] = base[40] + rng.standard_normal(dim) * 0.1
    base[200] = base[199] * 1.7
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "embedding": [r.tolist() for r in base]})
    )
    q = np.round(base * 1000)
    nrm = np.linalg.norm(q, axis=1)
    C = (q @ q.T) / np.outer(nrm, nrm)
    for thr in (0.5, 0.8, 0.95):
        got = {
            (r["vec_a"], r["vec_b"])
            for r in exact_dup_pairs_blocked(emb, thr).collect()
        }
        want = {
            (i, j)
            for i in range(n)
            for j in range(i + 1, n)
            if C[i, j] >= thr
        }
        assert got == want, f"thr={thr}: {got ^ want}"


    # e01 keeps an intentional cross join (the brute-force correctness
    # baseline scoped to 20 query vectors); geo_k_complexity and
    # geo_population crossJoin a ONE-ROW broadcast aggregate (scalar
    # attach — O(N·1), the right plan for a global total; the bad NLJ
    # this sweep hunts is the multi-row kind)
# d15's crossJoin is a ONE-ROW broadcast aggregate attach (the global
# min class count) — O(N·1) by construction, same as geo_population's
_CARTESIAN_OK = {
    "e01_ann_cosine_topk", "geo_k_complexity", "geo_population",
    # same compute_k/_pack_blocks machinery as geo_k_complexity
    "geo_k_oracle", "geo_layers_oracle",
    # embeds allocate_population → same ONE-ROW broadcast scalar
    # attach as geo_population
    "geo_combine_full",
    "geo_zonal_oracle",
    "d15_stratified_rebalance",
    # vectors x label-centroids broadcast scan — bounded by label
    # cardinality, the e01 dense pattern
    "e13_centroid_classify",
    # e01-style bounded dense pool build (queries x corpus)
    "e14_mmr_rerank",
}
    # queries that trigger driver-side work/iterations when the plan is
    # built — cheap but not needed for this static audit
_PLAN_AUDIT_SKIP = {"s01_stream_tile_rollup", "e05_ivf_ann_topk",
                    "d10_dup_components", "q22_weighted_buckets",
                    "geo_knn",
                    # CC pointer-jumping iterates at plan-build time
                    # (like d10); its dedicated no-cartesian test runs
                    # the same check once
                    "d25_fuzzy_corpus_pipeline"}


def test_no_accidental_cartesians_anywhere(spark):
    """Sweep EVERY registry query's physical plan: an O(N²)
    CartesianProduct / BroadcastNestedLoopJoin may only appear where
    it is the documented intent."""
    from kblock_spark.queries import REGISTRY

    offenders = []
    for name, (fn, _sql) in REGISTRY.items():
        if name in _CARTESIAN_OK or name in _PLAN_AUDIT_SKIP:
            continue
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_q24_group_id_broadcasts_back(spark):
    """The scale-safe ngroup: rank over the distinct key set, then a
    BROADCAST join back — never a global window over the fact table."""
    from kblock_spark.queries import q24_group_id_assignment

    plan = _plan(q24_group_id_assignment(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the only window in the plan must be fed by an aggregate
    # (distinct keys), not the raw scan
    assert "Window" in plan


def test_pip_join_broadcasts_polygons(spark):
    from kblock_spark.io.synth import synth_admin, synth_streets, synth_pages_spark
    from kblock_spark.kernels.blocks import delineate_blocks
    from kblock_spark.kernels.extract import geocoded_points
    from kblock_spark.ops.spatial_join import assign_points_to_polygons

    admin = spark.createDataFrame(synth_admin(2, 2))
    streets = spark.createDataFrame(synth_streets(2, 2, 2))
    blocks = delineate_blocks(admin, streets)
    pts = geocoded_points(synth_pages_spark(spark, 200))
    joined = assign_points_to_polygons(pts, blocks, ["url", "lon", "lat"])
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan  # polygon side broadcast


def test_pip_salted_shuffle_path_parity(spark):
    """The 100 TB join plan — polygons NOT broadcast, hotspot cells
    sharded by an explicit salt — must produce exactly the broadcast
    path's rows end-to-end (VERDICT r1 #10: the salted path existed
    but was never exercised)."""
    from kblock_spark.pipeline import run_pipeline

    base = run_pipeline(spark, n_pages=1200, nx=2, ny=2, grid=2)
    salted = run_pipeline(
        spark, n_pages=1200, nx=2, ny=2, grid=2,
        broadcast_polys=False, salt_buckets=4,
    )
    a = {tuple(r) for r in base["buildings"].select("url", "block_id").collect()}
    b = {tuple(r) for r in salted["buildings"].select("url", "block_id").collect()}
    assert a == b and len(a) > 0
    # and the salted plan really took the salted-join path
    plan = _plan(salted["buildings"])
    assert "__salt" in plan
    ka = {tuple(r) for r in base["complexity"].collect()}
    kb = {tuple(r) for r in salted["complexity"].collect()}
    assert ka == kb


def test_e02_plan_has_no_join_at_all(spark):
    """Round-3 shape: assignment → per-list GEMM kernel → dedup. The
    candidate generation is join-free (pairs materialize only inside
    tasks), so ANY join node in the plan is a regression."""
    from kblock_spark.queries import e02_embedding_dup_pairs

    plan = _plan(e02_embedding_dup_pairs(spark, SF))
    assert "Join" not in plan, plan


def test_e08_decontamination_is_shuffle_free(spark):
    """The semantic-decontamination pass ships the benchmark side as a
    python broadcast and maps the corpus once — the physical plan must
    contain NO Exchange (corpus vectors never leave their partitions)."""
    from kblock_spark.queries import e08_semantic_decontamination

    df = e08_semantic_decontamination(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan


def test_tile_rollup_single_point_shuffle(spark):
    """multires_rollup must aggregate the point set ONCE: exactly two
    Exchanges (finest-level agg, then the re-agg of the exploded cell
    rows). A union of per-level re-selects would re-scan and
    re-shuffle the points once per level (Catalyst does not reuse
    repeated subplans) — the 100 TB regression this guards."""
    from kblock_spark.queries import geo_tile_rollup

    plan = _plan(geo_tile_rollup(spark, SF))
    assert plan.count("Exchange") == 2, plan
    assert "Generate" in plan  # the explode fan-out


def test_compact_uses_broadcast_anti_joins(spark):
    """Every level step of compact_cells is a broadcast anti-join on
    the (tiny) promoted-parent set — a SortMergeJoin here would mean
    the cell set shuffles at every level."""
    from kblock_spark.queries import geo_compact

    plan = _plan(geo_compact(spark, SF))
    assert plan.count("LeftAnti") == 4, plan
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan, plan


def test_d22_pipeline_one_scan_pushdown(spark):
    """The composed pipeline must push the quality gate into the
    parquet scan (n_chars predicate as a PushedFilter) — a pipeline
    that re-filters after materializing would re-read the corpus per
    stage at 100 TB."""
    from kblock_spark.queries import d22_corpus_pipeline

    plan = _plan(d22_corpus_pipeline(spark, SF))
    assert "GreaterThanOrEqual(n_chars,100)" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d25_fuzzy_pipeline_no_cartesian(spark):
    """The fuzzy pipeline adds MinHash-LSH + connected components on
    top of d22; the LSH self-join must stay band-bucket-keyed (no
    O(N^2) join anywhere in the plan). The quality-gate parquet
    pushdown is asserted on d22 (the stage is shared verbatim); it is
    invisible here because the exact-kept subtree sits behind a
    localCheckpoint (Scan ExistingRDD in this plan)."""
    from kblock_spark.queries import d25_fuzzy_corpus_pipeline

    plan = _plan(d25_fuzzy_corpus_pipeline(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


_PYTHON_EVAL = ("ArrowEvalPython", "BatchEvalPython")


def test_cell_ids_are_catalyst(spark):
    """Geocoding, the street⨝admin pair join of block delineation and
    the kNN ring rounds compute cell ids as Catalyst expressions: no
    Python eval node in their executed plans."""
    import numpy as np
    import pandas as pd

    from kblock_spark.geo.tiling import cell_of
    from kblock_spark.io.synth import synth_admin, synth_pages_spark, synth_streets
    from kblock_spark.kernels.blocks import delineate_blocks
    from kblock_spark.kernels.extract import geocoded_points
    from kblock_spark.ops.knn import knn_join

    plan = _plan(geocoded_points(synth_pages_spark(spark, 200), 0.003))
    assert not any(n in plan for n in _PYTHON_EVAL), plan
    admin = spark.createDataFrame(synth_admin(2, 2))
    streets = spark.createDataFrame(synth_streets(2, 2, 2))
    plan = _plan(delineate_blocks(admin, streets))
    assert not any(n in plan for n in _PYTHON_EVAL), plan

    # knn_join checkpoints every ring round, so read the plans of the
    # SQL executions it ran from the status store
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        it = store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            yield e.executionId(), e.physicalPlanDescription()

    seen = max((i for i, _ in executions()), default=-1)
    rng = np.random.default_rng(2)

    def side(key, n):
        lon, lat = rng.uniform(10, 10.05, n), rng.uniform(0, 0.05, n)
        return spark.createDataFrame(
            pd.DataFrame({key: np.arange(n), "lon": lon, "lat": lat,
                          "cell": cell_of(lon, lat)})
        )

    assert len(knn_join(side("a", 40), side("b", 60), "a", "b", k=2).collect()) == 80
    plans = [p for i, p in executions() if i > seen]
    assert any("Generate" in p for p in plans)  # the ring explode ran
    for p in plans:
        assert not any(n in p for n in _PYTHON_EVAL), p


def test_cow_delete_broadcasts_no_row_address(spark, tmp_path):
    """A copy-on-write DELETE finds the touched files in one scan and
    rewrites them with the predicate inverted: no plan it runs
    broadcasts a row-address set, so a bulk delete needs neither
    driver memory nor broadcast size in proportion to the rows hit."""
    from kblock_spark.io.tableformat import (
        delete_where,
        overwrite_snapshot,
        read_snapshot,
    )

    path = str(tmp_path / "t")
    overwrite_snapshot(
        spark.range(0, 400).repartitionByRange(4, "id"), path,
        stat_cols=["id"],
    )
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        it = store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            yield e.executionId(), e.physicalPlanDescription()

    seen = max((i for i, _ in executions()), default=-1)
    res = delete_where(spark, path, "id % 2 = 0")
    plans = [p for i, p in executions() if i > seen]
    assert res["rows_deleted"] == 200 and res["files_rewritten"] == 4
    assert plans and not any("BroadcastExchange" in p for p in plans), plans
    assert read_snapshot(spark, path).count() == 200
