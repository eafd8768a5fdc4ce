"""Measurement plumbing owned by the benchmark: spans around the
engine calls, a /proc sampler for the Spark process tree, and the
Spark event-log reader used by traced runs.

Nothing here imports the engine; the workload modules wrap each
public engine call in ``Spans.span(layer, call=...)``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def next_job_id(sc) -> int:
    """DAGScheduler.nextJobId: counts every job, including ones that
    streaming threads submit."""
    v = sc._jsc.sc().dagScheduler().nextJobId()
    return v if isinstance(v, int) else v.get()


class Spans:
    """In-memory spans: (name, call, start, end, parent, run_id) plus
    the job-id delta and any counts a caller attaches."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            "jobs": 0,
            "failed": False,
            **attrs,
        }
        idx = len(self.records)
        self.records.append(rec)
        self._stack.append(idx)
        j0 = next_job_id(self.sc)
        try:
            yield rec
        except BaseException:
            rec["failed"] = True
            raise
        finally:
            rec["end"] = time.time()
            rec["jobs"] = next_job_id(self.sc) - j0
            self._stack.pop()

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name under ``root``: a span's duration
        minus the part of it that its child spans cover."""
        child_s: dict[int, float] = defaultdict(float)
        for i, r in enumerate(self.records):
            if r["parent"] is not None:
                child_s[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = defaultdict(float)
        for i in self.subtree(root):
            r = self.records[i]
            out[r["name"]] += (r["end"] - r["start"]) - child_s[i]
        return dict(out)

    def subtree(self, root: int) -> list[int]:
        keep = {root}
        for i in range(root + 1, len(self.records)):
            if self.records[i]["parent"] in keep:
                keep.add(i)
        return sorted(keep)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for r in self.records:
                fh.write(json.dumps(r, default=str) + "\n")


# ------------------------------------------------------------ /proc

def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid → (ppid, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        f = st[st.rfind(")") + 2 :].split()
        ppid = int(f[1])
        cpu = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        out[int(d)] = (ppid, cpu, int(f[21]))
    return out


def _tree(table, root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, (ppid, _c, _r) in table.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in table:
            out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU of ``root`` and all its descendants (the Python
    driver, the Spark JVM and the Python workers). A reaped child's
    time is in its parent's cutime/cstime, so exited workers count."""
    t = _proc_table()
    return sum(t[p][1] for p in _tree(t, root or os.getpid())) / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    t = _proc_table()
    return sum(t[p][2] for p in _tree(t, root or os.getpid())) * _PAGE / 2**20


def descendants(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    return [p for p in _tree(_proc_table(), root) if p != root]


class RssSampler:
    """Background thread that tracks the peak summed RSS of the
    process tree while a window is open."""

    def __init__(self, period_s: float = 0.05):
        self.period_s = period_s
        self._peak = 0.0
        self._open = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.wait(self.period_s):
            if self._open:
                self._peak = max(self._peak, tree_rss_mb())

    def open(self):
        self._peak = tree_rss_mb()
        self._open = True

    def close(self) -> float:
        self._open = False
        return max(self._peak, tree_rss_mb())

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------- event log

def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """→ (jobs, tasks) from the uncompressed Spark event log under
    ``log_dir`` (a rolling log is a directory of ``events_*`` files).
    jobs: {id, t (epoch s), stages}; tasks: {stage, run_s, shuffle_mb,
    spill_mb, failed}."""
    jobs, tasks = [], []
    paths = sorted(
        os.path.join(root, f)
        for root, _ds, fs in os.walk(log_dir)
        for f in fs
        if not f.startswith(".") and not f.startswith("appstatus")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line[:60]:
                    e = json.loads(line)
                    jobs.append(
                        {
                            "id": e["Job ID"],
                            "t": e["Submission Time"] / 1000.0,
                            "stages": e.get("Stage IDs", []),
                        }
                    )
                elif '"SparkListenerTaskEnd"' in line[:60]:
                    e = json.loads(line)
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": e["Stage ID"],
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "shuffle_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
                            "spill_mb": m.get("Disk Bytes Spilled", 0) / 2**20,
                            "failed": bool((e.get("Task Info") or {}).get("Failed")),
                        }
                    )
    return jobs, tasks


def layer_task_stats(spans: Spans, jobs: list[dict], tasks: list[dict]) -> dict:
    """Attribute each job to the innermost span open at its submission
    time, then fold task metrics per span name. task_skew is max/median
    task time of the layer's busiest stage (its kernel stage)."""
    stage_span: dict[int, str] = {}
    for j in jobs:
        best = None
        for r in spans.records:
            if r["start"] <= j["t"] <= (r["end"] or float("inf")):
                if best is None or r["start"] >= best["start"]:
                    best = r
        if best is None:
            continue
        for s in j["stages"]:
            stage_span.setdefault(s, best["name"])
    per_stage: dict[int, list[dict]] = defaultdict(list)
    for t in tasks:
        per_stage[t["stage"]].append(t)
    out: dict[str, dict] = defaultdict(
        lambda: {"task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
                 "failed_tasks": 0, "task_skew": 0.0, "_busiest": -1.0}
    )
    for stage, ts in per_stage.items():
        name = stage_span.get(stage)
        if name is None:
            continue
        o = out[name]
        busy = sum(t["run_s"] for t in ts)
        o["task_s"] += busy
        o["shuffle_mb"] += sum(t["shuffle_mb"] for t in ts)
        o["spill_mb"] += sum(t["spill_mb"] for t in ts)
        o["failed_tasks"] += sum(t["failed"] for t in ts)
        if busy > o["_busiest"]:
            o["_busiest"] = busy
            med = statistics.median(t["run_s"] for t in ts)
            o["task_skew"] = max(t["run_s"] for t in ts) / med if med > 0 else 1.0
    for o in out.values():
        o.pop("_busiest")
    return dict(out)
