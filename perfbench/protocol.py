"""One benchmark phase: a fresh Spark JVM, seeded set-up, timed
builds (or query passes) for ``seconds`` (at least one), then the
output checks. A traced run makes a second phase, in a second fresh
JVM, with the Spark event log on, and reports per-layer numbers.

End-to-end numbers are medians over the timed samples of a phase;
``setup_s`` is session start (JVM launch plus Python-worker warm-up)
plus the one input set-up of the phase.
"""

from __future__ import annotations

import os
import random
import shutil
import signal
import statistics
import subprocess
import time

from . import checks as C
from . import tracing as T


def start_session(run_dir: str, traced: bool):
    """A fresh Spark JVM sized by ``get_spark``; the benchmark's own
    settings (file locations, event log) come from spark-defaults.conf
    in the run directory, which spark-submit reads at JVM launch."""
    from kblock_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    with open(os.path.join(run_dir, "conf", "spark-defaults.conf"), "w") as fh:
        fh.write(
            f"spark.sql.warehouse.dir {run_dir}/warehouse\n"
            f"spark.driver.defaultJavaOptions -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp}\n"
            f"spark.eventLog.enabled {str(traced).lower()}\n"
            f"spark.eventLog.dir file://{run_dir}/events\n"
            "spark.eventLog.compress false\n"
            "spark.ui.showConsoleProgress false\n"
        )
    spark = get_spark("perfbench")
    # Python-worker warm-up, as bench.py does before timing
    import pandas as pd

    n = spark.sparkContext.defaultParallelism * 4
    spark.range(0, n, 1, n).mapInPandas(
        lambda it: (pd.DataFrame({"x": [1]}) for _ in it), "x long"
    ).count()
    return spark


def stop_jvm() -> None:
    """Shut the Spark JVM down and wait for it and every process it
    started (Python workers) to end, so the next phase gets a fresh
    JVM and nothing outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while T.descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in T.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while T.descendants() and time.time() < deadline + 10:
        time.sleep(0.1)


def _timed(sampler, fn):
    cpu0 = T.tree_cpu_s()
    sampler.open()
    t0 = time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    rss = sampler.close()
    return {"run_s": wall, "cpu_s": T.tree_cpu_s() - cpu0, "peak_rss_mb": rss}


# ---------------------------------------------------------- phases

def _samples(sampler, seconds: float, one) -> list[dict]:
    """Timed samples back to back until ``seconds`` have passed, at
    least one. A city build takes about 30 s on a 4-core host, so with
    ``--seconds 1`` one sample is one build (or query pass) in a fresh
    JVM, which is what a per-country job pays."""
    samples = []
    t_end = time.perf_counter() + seconds
    while not samples or time.perf_counter() < t_end:
        samples.append(_timed(sampler, lambda: one(len(samples))))
    return samples


def geo_phase(spec, seed, seconds, traced, run_dir, sampler, chk, digests_path):
    from . import geo
    from .inputs import CityInputs

    t0 = time.perf_counter()
    spark = start_session(run_dir, traced)
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    inp = CityInputs(spark, spec, seed)
    input_s = time.perf_counter() - t0

    out_root = os.path.join(run_dir, "out")
    spans = T.Spans(spark.sparkContext, f"{'traced' if traced else 'untraced'}-{seed}")
    roots, outs, digests = [], [], []

    def one(i):
        if outs:
            geo.release(outs.pop())
            shutil.rmtree(f"{out_root}/b{i - 1}", ignore_errors=True)
        roots.append(len(spans.records))
        with spans.span("build"):
            outs.append(geo.build(spark, inp, f"{out_root}/b{i}", spans, chk))
        digests.append(geo.k_digest(outs[-1]))

    samples = _samples(sampler, seconds, one)
    o = outs[-1]
    if len(digests) > 1:
        chk.check("determinism.within_run", len(set(digests)) == 1,
                  f"{len(set(digests))} distinct k digests over {len(digests)} builds")
    C.check_pinned_digest(chk, digests_path, f"{C.spec_key(spec)}:{seed}", digests[0])
    counts = geo.check_outputs(spark, inp, o, chk, seed, spec["sample"])
    counts["rows_in"] = len(inp.ref)
    counts["points"] = o["points"].count()
    counts["files"] = {
        "io.manifest": geo.files_and_mb(o["paths"]["blocks"], o["paths"]["manifest"]),
        "io.sinks": geo.files_and_mb(o["paths"]["combined"], o["paths"]["rollup"]),
    }
    if traced:
        counts["cover_cells"], counts["candidates"] = geo.cover_counts(o)
    spark.stop()
    stop_jvm()
    return {
        "setup": {"session_s": session_s, "inputs_s": input_s},
        "samples": samples, "spans": spans, "roots": roots, "counts": counts,
    }


def query_phase(spec, seed, seconds, traced, run_dir, sampler, chk, _digests_path):
    from . import querymix as Q
    from .inputs import write_query_tables

    t0 = time.perf_counter()
    spark = start_session(run_dir, traced)
    session_s = time.perf_counter() - t0
    sf_dir = os.path.join(run_dir, "tables")
    t0 = time.perf_counter()
    write_query_tables(sf_dir, spec["scale"], seed)
    input_s = time.perf_counter() - t0

    names = spec.get("queries") or [n for g in Q.GROUPS.values() for n in g]
    rng = random.Random(seed)
    spans = T.Spans(spark.sparkContext, f"{'traced' if traced else 'untraced'}-{seed}")
    roots, results = [], {}

    def one(_i):
        order = names[:]
        rng.shuffle(order)
        roots.append(len(spans.records))
        with spans.span("pass"):
            results.update(Q.run_pass(spark, sf_dir, order, spans, chk))

    samples = _samples(sampler, seconds, one)
    Q.check_oracles(sf_dir, results, chk)
    spark.stop()
    stop_jvm()
    return {
        "setup": {"session_s": session_s, "inputs_s": input_s},
        "samples": samples, "spans": spans, "roots": roots, "counts": {},
    }


# --------------------------------------------------------- metrics

def end_to_end(phase) -> dict:
    s = phase["samples"]
    su = phase["setup"]
    return {
        "setup_s": su["session_s"] + su["inputs_s"],
        "run_s": statistics.median(x["run_s"] for x in s),
        "cpu_s": statistics.median(x["cpu_s"] for x in s),
        "peak_rss_mb": statistics.median(x["peak_rss_mb"] for x in s),
    }


def per_layer(spec, traced_phase, untraced_phase, event_dir) -> dict:
    """Per-layer numbers of the traced phase, per timed sample, billed
    to the public call that ran the work (see ``geo``). A geo workload
    reports 0 for the query layers and vice versa."""
    from . import geo
    from . import querymix as Q

    spans, roots = traced_phase["spans"], traced_phase["roots"]
    n = len(roots)
    selfs = [spans.self_times(r) for r in roots]
    jobs: dict[str, list[int]] = {}
    for r in roots:
        per: dict[str, int] = {}
        for i in spans.subtree(r)[1:]:
            rec = spans.records[i]
            per[rec["name"]] = per.get(rec["name"], 0) + rec["jobs"]
        for k, v in per.items():
            jobs.setdefault(k, []).append(v)
    ev_jobs, ev_tasks = T.read_event_log(event_dir)
    tasks = T.layer_task_stats(spans, ev_jobs, ev_tasks)

    def self_s(name):
        return statistics.median(s.get(name, 0.0) for s in selfs)

    def jobs_of(name):
        return statistics.median(jobs.get(name, [0]))

    def task(name, key):
        v = tasks.get(name, {}).get(key, 0.0)
        return v if key == "task_skew" else v / n

    m: dict[str, float] = {}
    c = traced_phase["counts"]
    for L in geo.LAYERS:
        m[f"{L}.s"] = self_s(L)
        m[f"{L}.jobs"] = jobs_of(L)
    m["kernels.blocks.rows_out"] = c.get("n_blocks", 0)
    m["kernels.blocks.task_s"] = task("kernels.blocks", "task_s")
    m["kernels.extract.rows_in"] = c.get("rows_in", 0)
    m["kernels.extract.dropped"] = c.get("rows_in", 0) - c.get("points", 0)
    m["ops.spatial_join.cover_cells"] = c.get("cover_cells", 0)
    m["ops.spatial_join.candidates"] = c.get("candidates", 0)
    m["ops.spatial_join.refine_ratio"] = (
        c["n_assigned"] / c["candidates"] if c.get("candidates") else 0.0
    )
    m["ops.spatial_join.unassigned"] = c.get("unassigned", 0)
    for L, keys in (
        ("ops.spatial_join", ("task_s", "shuffle_mb")),
        ("pipeline.compute_k", ("task_s", "task_skew", "shuffle_mb", "spill_mb",
                                "failed_tasks")),
        # validate forces the k kernel
        ("ops.validate", ("task_s", "task_skew", "shuffle_mb", "spill_mb",
                          "failed_tasks")),
        ("ops.population", ("task_s", "shuffle_mb")),
        # the writes force population and combine
        ("io.sinks", ("task_s", "shuffle_mb")),
    ):
        for k in keys:
            m[f"{L}.{k}"] = task(L, k)
    m["ops.population.conservation_err"] = c.get("conservation_err", 0.0)
    for L in ("io.manifest", "io.sinks"):
        files, mb = c.get("files", {}).get(L, (0, 0.0))
        m[f"{L}.files"] = files
        m[f"{L}.mb"] = mb

    groups: dict[str, dict[str, float]] = {
        g: {"s": 0.0, "jobs": 0.0, "task_s": 0.0, "shuffle_mb": 0.0} for g in Q.GROUPS
    }
    for g, names in Q.GROUPS.items():
        for q in names:
            key = f"queries.{q}"
            m[f"{key}.s"] = self_s(key)
            groups[g]["s"] += self_s(key)
            groups[g]["jobs"] += jobs_of(key)
            groups[g]["task_s"] += task(key, "task_s")
            groups[g]["shuffle_mb"] += task(key, "shuffle_mb")
    for g, v in groups.items():
        for k, x in v.items():
            m[f"{g}.{k}"] = x

    root = "build" if spec["kind"] == "geo" else "pass"
    traced_run = end_to_end(traced_phase)["run_s"]
    m["trace.run_s"] = traced_run
    # layer self times should add up to the traced run_s; the root
    # span's own self time is the glue between layer calls
    m["trace.layer_sum_s"] = statistics.median(
        sum(v for k, v in s.items() if k != root) for s in selfs
    )
    m["trace.unattributed_s"] = self_s(root)
    m["trace.overhead_s"] = traced_run - end_to_end(untraced_phase)["run_s"]
    m["trace.samples"] = n
    m["proc.peak_rss_mb"] = end_to_end(traced_phase)["peak_rss_mb"]
    return m
