"""Benchmark of the kblock build, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload city_dense --seed 1 --seconds 1 --trace 0

``--workload all`` runs every workload in turn. ``--trace 0`` reports
the end-to-end metrics (setup_s, run_s, cpu_s; peak_rss_mb is printed
too but is not a bounded metric: the number of live Python workers
makes it swing by half from run to run);
``--trace 1`` makes an untraced phase and then a traced one (Spark
event log on) and reports the per-layer metrics. The last
line of stdout is one JSON object: correct, attempted, failed,
metrics. fail_ratio = failed / attempted, where attempted counts the
engine calls made and the output checks run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.getcwd()

WORKLOADS = {
    # few admin units, many points per block, three hotspots
    "city_dense": {"kind": "geo", "nx": 3, "ny": 3, "grid": 6, "pages": 200_000,
                   "hot_share": 0.6, "sample": 2000},
    # REGISTRY queries over small seeded tables, seed-permuted order
    # tables shaped like sf0.1, at a tenth of its row counts
    "query_mix": {"kind": "queries", "scale": 0.1},
}

E2E_UNITS = {"setup_s": "s", "run_s": "s", "cpu_s": "s"}


def layer_units(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last in ("s", "task_s", "run_s", "layer_sum_s", "unattributed_s", "overhead_s"):
        return "s"
    if last in ("shuffle_mb", "spill_mb", "mb", "peak_rss_mb"):
        return "MB"
    if last in ("task_skew", "refine_ratio", "conservation_err"):
        return "ratio"
    return "count"


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the run directory, and size Spark to the cores this process
    may use."""
    for d in ("tmp", "local", "conf", "events", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    with open(os.path.join(run_dir, "conf", "log4j2.properties"), "w") as fh:
        fh.write("rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
                 "appender.console.type = Console\nappender.console.name = console\n"
                 "appender.console.target = SYSTEM_ERR\n"
                 "appender.console.layout.type = PatternLayout\n"
                 "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    os.environ.update(
        {
            "SPARK_CONF_DIR": os.path.join(run_dir, "conf"),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    tempfile.tempdir = tmp


def run(workload: str, seed: int, seconds: int, trace: bool, work_dir: str,
        spec: dict | None = None) -> dict:
    """One run in this process; returns the result object (plus a
    ``report`` of human-readable lines)."""
    from perfbench import protocol as P
    from perfbench import tracing as T
    from perfbench.checks import Checks

    spec = dict(spec or WORKLOADS[workload], name=workload)
    run_dir = os.path.join(work_dir, f"run-{os.getpid()}-{int(time.time() * 1e3)}")
    prepare_env(run_dir)
    phase = P.geo_phase if spec["kind"] == "geo" else P.query_phase
    digests = os.path.join(work_dir, "digests.json")
    chk = Checks()
    sampler = T.RssSampler()
    report = []
    try:
        try:
            untraced = phase(spec, seed, seconds, False, run_dir, sampler, chk, digests)
            traced = (
                phase(spec, seed, seconds, True, run_dir, sampler, chk, digests)
                if trace else None
            )
        except Exception as ex:  # a failed call is already counted
            report.append(f"run aborted: {type(ex).__name__}: {str(ex)[:300]}")
            untraced = traced = None
        e2e = P.end_to_end(untraced) if untraced is not None else None
        if e2e is None or (trace and traced is None):
            metrics = {}
        elif trace:
            pl = P.per_layer(spec, traced, untraced, os.path.join(run_dir, "events"))
            traced["spans"].dump(os.path.join(work_dir, f"spans-{workload}.jsonl"))
            metrics = {k: {"value": float(v), "unit": layer_units(k)} for k, v in pl.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        if e2e is not None:
            n = len(untraced["samples"])
            su = untraced["setup"]
            report.append(
                f"setup_s = session {su['session_s']:.3f} s + inputs "
                f"{su['inputs_s']:.3f} s (n=1 set-up per run)"
            )
            report.append(
                f"run_s, cpu_s, peak_rss_mb: median of n={n} timed "
                f"{'build' if spec['kind'] == 'geo' else 'query pass'}(es) "
                f"over at least {seconds} s in a fresh JVM"
            )
            report.extend(
                f"{k} {v:.3f} {E2E_UNITS.get(k, 'MB')}" for k, v in e2e.items()
            )
        report.append(
            f"fail_ratio {chk.failed / max(chk.attempted, 1):.6f} ratio "
            f"({chk.failed} failed / {chk.attempted} attempted)"
        )
        report.extend(f"FAILED {f}" for f in chk.failures[:20])
    finally:
        sampler.stop()
        P.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "correct": chk.failed == 0 and bool(metrics),
        "attempted": max(chk.attempted, 1),
        "failed": chk.failed,
        "metrics": metrics,
        "report": report,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                    help="one workload, or all of them one after another")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kblock_spark")):
        print("perfbench: run from the root of a kblock_spark checkout "
              "(no kblock_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_dir = os.path.join(ROOT, "perfbench", "_work")
    os.makedirs(work_dir, exist_ok=True)
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        res = run(name, args.seed, args.seconds, bool(args.trace), work_dir)
        print(f"perfbench {name} seed={args.seed} trace={args.trace}")
        for line in res["report"]:
            print(f"  {line}")
        if not res["metrics"]:
            return 1
        for k, v in res["metrics"].items():
            print(f"  {k:42s} {v['value']:14.6f} {v['unit']}")
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        prefix = f"{name}." if len(names) > 1 else ""
        total["metrics"].update({prefix + k: v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


if __name__ == "__main__":
    sys.exit(main())
