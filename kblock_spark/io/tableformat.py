"""Snapshot table format: Iceberg-style metadata over plain parquet.

The north rule's input is an "Iceberg table of Common-Crawl-style web
pages"; no Iceberg runtime jar ships in this container, so this module
implements the table-format *contract* the engine needs from it, using
only public Iceberg concepts (spec at iceberg.apache.org/spec):

- a table is a directory with immutable ``data/`` files plus
  ``metadata/snap-<n>.json`` snapshot manifests listing exactly the
  files that make up that snapshot (with per-file row counts and
  column min/max stats);
- ``metadata/current`` names the live snapshot; commits are
  last-writer-wins-free: a commit writes its manifest, then atomically
  swaps ``current`` IFF the parent it read is still live (optimistic
  concurrency — losers raise ``CommitConflict`` and retry);
- readers plan scans from the manifest, never by listing directories:
  time travel = read an older manifest, incremental read = the file
  diff between two snapshots, and predicate pruning = skip files whose
  [min, max] range can't match.

Crash safety: a writer that dies after writing data files or its
manifest but before the ``current`` swap leaves orphans, never a
corrupt table — readers only follow ``current``. ``expire_snapshots``
garbage-collects unreferenced files.

Scale: manifests are metadata-only (a few hundred bytes per file);
only file PATHS ever touch the driver, the same cost model as
Iceberg's manifest lists. At 10^12 rows the data-file count is
bounded by write partitioning, not row count.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from collections.abc import Sequence
from typing import NamedTuple
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer committed since this snapshot's parent was read."""


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _snap_path(path: str, sid: int) -> str:
    return os.path.join(_meta_dir(path), f"snap-{sid:05d}.json")


def current_snapshot_id(path: str) -> int | None:
    """Live snapshot id, or None for an empty/new table."""
    try:
        with open(os.path.join(_meta_dir(path), "current")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def read_manifest(path: str, snapshot_id: int | None = None) -> dict:
    sid = current_snapshot_id(path) if snapshot_id is None else snapshot_id
    if sid is None:
        raise FileNotFoundError(f"no current snapshot in {path}")
    with open(_snap_path(path, sid)) as f:
        return json.load(f)


def _read_manifest_expired_ok(path: str, sid: int) -> dict | None:
    """Manifest for ``sid``, or None if :func:`expire_snapshots`
    dropped it. Chain walkers treat a missing ancestor as the end of
    the chain (Iceberg: expired snapshots fall off the lineage) —
    without this, every walk over an expired table crashed with
    FileNotFoundError (expire-then-vacuum, streaming-sink restart,
    rollback ancestry checks)."""
    try:
        return read_manifest(path, sid)
    except FileNotFoundError:
        return None


def _file_stats(fpath: str, stat_cols: list[str]) -> dict:
    """Per-file row count + column min/max from the parquet footer —
    metadata-only reads (no data pages), the source of the same stats
    Iceberg stores in its manifests."""
    md = pq.ParquetFile(fpath).metadata
    # byte size rides along for admission control (the streaming
    # source's maxBytesPerTrigger pacing) — same role as Iceberg's
    # file_size_in_bytes manifest field
    stats: dict = {"rows": md.num_rows, "bytes": os.path.getsize(fpath)}
    if stat_cols:
        name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in stat_cols:
            idx = name_to_idx.get(c)
            if idx is None:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx).statistics
                if s is None or not s.has_min_max:
                    lo = hi = None
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            # manifests are JSON: record only JSON-native stat types
            # (timestamp/binary min/max would crash the manifest
            # write — those columns simply aren't pruned on)
            if lo is not None and isinstance(lo, (str, int, float, bool)):
                stats[f"min_{c}"] = lo
                stats[f"max_{c}"] = hi
    return stats


# a manifest claim (snap-<sid>.json exists but ``current`` never
# advanced to <sid>) older than this is treated as a crashed writer's
# debris and broken — Iceberg's commit-timeout discipline. A LIVE
# writer slower than this between its claim and its pointer swap
# could be raced; 5 minutes is ~4 orders of magnitude above the
# observed claim→swap latency (two small file ops).
_STALE_CLAIM_S = 300.0


def _ptr_file(path: str, ref: str) -> str:
    return os.path.join(
        _meta_dir(path), "current" if ref == "main" else f"ref-{ref}"
    )


def ref_head(path: str, ref: str = "main") -> int | None:
    """Head snapshot id of a ref (``main`` = the ``current`` pointer,
    anything else = a branch created by :func:`create_branch`)."""
    try:
        with open(_ptr_file(path, ref)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _commit(
    path: str, manifest: dict, expected_parent: int | None, ref: str = "main"
) -> int:
    """Claim the next snapshot's manifest file exclusively, then
    atomically swap the ref pointer (``current`` for main, a
    ``ref-<name>`` file for a branch).

    The manifest file doubles as the commit LOCK: it is created via
    ``os.link`` from a unique temp file (atomic-exclusive, like
    ``open(..., 'x')`` but with the content already durable), so two
    writers racing on the same ref can never both reach the
    pointer swap — the loser's link fails with ``FileExistsError``
    and raises :class:`CommitConflict` **before anything existing is
    overwritten**. This closes the window where a loser that passed
    the entry check clobbered the winner's already-committed manifest
    and then re-based on its own clobbered copy, silently dropping
    the winner's files. A claim whose pointer swap never happened
    (crashed writer) is broken after :data:`_STALE_CLAIM_S` seconds.

    Snapshot ids are GLOBAL across refs (claiming snap-<sid>.json is
    the allocation): when a candidate sid is already taken by a
    commit on a DIFFERENT ref, this writer simply tries the next id —
    only a same-ref claim is a genuine conflict. Chains stay intact
    because parenthood is the manifest's ``parent_id``, not id
    contiguity."""
    os.makedirs(_meta_dir(path), exist_ok=True)
    if ref_head(path, ref) != expected_parent:
        raise CommitConflict(
            f"table {path} ref {ref!r} advanced past {expected_parent}"
        )
    sid = (expected_parent or 0) + 1
    tmp = os.path.join(_meta_dir(path), f".snap.{uuid.uuid4().hex}")
    try:
        while True:
            stamped = {
                **manifest,
                "snapshot_id": sid,
                "parent_id": expected_parent,
                "ref": ref,
                "ts": time.time(),
            }
            # sequence stamping: files added by THIS commit get
            # seq = sid, and a fresh equality-delete entry gets its
            # commit's seq — the scoping Iceberg v2 uses so an eq
            # delete shadows only rows of files committed strictly
            # BEFORE it (file.seq < delete.seq)
            added = set(stamped.get("added") or [])
            stamped["files"] = [
                {**e, "seq": sid}
                if e["path"] in added and "seq" not in e
                else e
                for e in stamped.get("files", [])
            ]
            if stamped.get("delete_files"):
                stamped["delete_files"] = [
                    {**e, "seq": sid}
                    if e.get("kind") == "eq" and "seq" not in e
                    else e
                    for e in stamped["delete_files"]
                ]
            snap = _snap_path(path, sid)
            with open(tmp, "w") as f:
                json.dump(stamped, f, indent=1)
            try:
                os.link(tmp, snap)  # atomic claim — never overwrites
                break
            except FileExistsError:
                pass
            # taken: a racing same-ref writer (conflict), another
            # ref's committed snapshot (advance to the next id), or a
            # crashed writer's stale claim (break it)
            try:
                with open(snap) as f:
                    other_ref = json.load(f).get("ref", "main")
            except (FileNotFoundError, json.JSONDecodeError):
                other_ref = ref  # mid-write/vanished: treat as racer
            if other_ref != ref:
                sid += 1
                continue
            stale = False
            try:
                stale = (
                    ref_head(path, ref) == expected_parent
                    and time.time() - os.path.getmtime(snap) > _STALE_CLAIM_S
                )
            except FileNotFoundError:
                pass  # claimant finished or vanished; just conflict
            if not stale:
                raise CommitConflict(
                    f"snapshot {sid} of {path} already claimed by a "
                    "concurrent writer"
                ) from None
            # Breaking a stale claim must itself be exclusive: two
            # breakers interleaving remove→link could delete each
            # other's freshly relinked claim (one of them would then
            # swap the pointer onto the other's manifest). A break
            # MARKER (os.link, atomic-exclusive like the claim
            # itself) serializes breakers; staleness is re-verified
            # under the marker because the claimant may have finished
            # its swap, or a previous breaker may have already
            # replaced the claim, between our check and our link.
            brk = snap + ".break"
            try:
                os.link(tmp, brk)
            except FileExistsError:
                # another breaker owns the break right; if IT crashed,
                # its marker goes stale and is cleared the same way
                try:
                    if time.time() - os.path.getmtime(brk) > _STALE_CLAIM_S:
                        os.remove(brk)
                except FileNotFoundError:
                    pass
                raise CommitConflict(
                    f"stale claim on snapshot {sid} of {path} is being "
                    "broken by a concurrent writer"
                ) from None
            try:
                try:
                    still_stale = (
                        ref_head(path, ref) == expected_parent
                        and time.time() - os.path.getmtime(snap)
                        > _STALE_CLAIM_S
                    )
                except FileNotFoundError:
                    still_stale = False
                if not still_stale:
                    raise CommitConflict(
                        f"snapshot {sid} of {path} already claimed by a "
                        "concurrent writer"
                    ) from None
                os.remove(snap)
                try:
                    os.link(tmp, snap)
                except FileExistsError:
                    # a racer claimed the freed slot first — a raw
                    # FileExistsError here escaped the retry loop
                    raise CommitConflict(
                        f"snapshot {sid} of {path} re-claimed by a "
                        "concurrent writer"
                    ) from None
            finally:
                try:
                    os.remove(brk)
                except FileNotFoundError:
                    pass
            break
    finally:
        os.remove(tmp)
    # the swap is the commit point: os.replace is atomic on POSIX.
    # Holding the sid claim means no competing same-ref writer can
    # reach this point, so the swap cannot clobber a concurrent
    # commit; the recheck is defense in depth.
    ptr = os.path.join(_meta_dir(path), f".ptr.{uuid.uuid4().hex}")
    with open(ptr, "w") as f:
        f.write(str(sid))
    if ref_head(path, ref) != expected_parent:
        os.remove(ptr)
        os.remove(snap)  # release the claim we own
        raise CommitConflict(
            f"table {path} ref {ref!r} advanced past {expected_parent}"
        )
    os.replace(ptr, _ptr_file(path, ref))
    return sid


# ------------------------------------------------------------ commits
# Every commit kind derives its manifest from its parent's under ONE
# rule set (:func:`_next_manifest`) — as the Iceberg spec derives each
# snapshot's metadata from its parent's — and goes through ONE commit
# helper (:func:`_commit_next`).


def _head(path: str, ref: str = "main") -> tuple[int | None, dict]:
    """Head snapshot id of ``ref`` and its manifest ({} when empty)."""
    sid = ref_head(path, ref)
    return sid, ({} if sid is None else read_manifest(path, sid))


def _live_head(path: str, ref: str = "main") -> tuple[int, dict]:
    sid, m = _head(path, ref)
    if sid is None:
        raise FileNotFoundError(f"no snapshot on ref {ref!r} in {path}")
    return sid, m


def _next_manifest(
    parent: dict,
    operation: str,
    keep: list[dict] | None = None,
    wrote: Sequence[dict] = (),
    dels: Sequence[dict] = (),
    schema: str | None = None,
    stat_cols: list[str] | None = None,
    spec: list[dict] | None = None,
    batch_id: int | None = None,
    **extra,
) -> dict:
    """The manifest ``operation`` commits on top of ``parent`` ({} for
    a new table). Each policy is decided here once, for every op:

    - files: the parent's data files, or only the ``keep`` ones, plus
      the entries the op ``wrote`` (``_commit`` seq-stamps them);
    - schema: of the rows written, or the parent's if the op wrote
      none. The snapshot is ``schema_evolved`` (readers merge footers)
      only if it keeps a parent file and the parent was evolved or the
      schema changed; an op that keeps none wrote every file itself;
    - delete files: the parent's live ones plus ``dels``. An op that
      keeps no parent file carries none: its rewrite applied them;
    - spec: the parent's, unless the op sets one, which takes the next
      spec id (``[]`` reverts to unpartitioned and keeps the counter);
    - stat columns: the op's, else the parent's;
    - batch id: the op's own (a streaming sink's, rollback's pin),
      else the parent's, so a replayed micro-batch stays committed
      through any later op and any expiry.

    ``extra`` keys (``cherry_picked_from``, ``rollback_of``,
    ``sort_order``) describe this commit only."""
    kept = (parent.get("files") or []) if keep is None else keep
    schema = schema or parent.get("schema")
    if stat_cols is None:
        stat_cols = parent.get("stat_cols")
    evolved = bool(parent.get("schema_evolved")) or schema != parent.get(
        "schema"
    )
    manifest = {
        "operation": operation,
        **extra,
        "schema": schema,
        "stat_cols": stat_cols or [],
        "schema_evolved": bool(kept) and evolved,
        "files": kept + list(wrote),
        "added": [e["path"] for e in wrote],
    }
    # live deletes address immutable files: they cannot hit rows
    # written later, and entries addressing a file the op dropped are
    # inert
    dels = ((parent.get("delete_files") or []) if kept else []) + list(dels)
    if dels:
        manifest["delete_files"] = dels
    spec_id = int(parent.get("spec_id") or 0)
    if spec is None:
        spec = parent.get("spec")
    else:
        spec_id += 1
    if spec:
        manifest["spec"] = spec
    if spec_id:
        manifest["spec_id"] = spec_id
    batch = parent.get("batch_id") if batch_id is None else batch_id
    if batch is not None:
        manifest["batch_id"] = int(batch)
    return manifest


def _commit_next(
    path: str,
    operation: str,
    base: tuple[int | None, dict] | None = None,
    ref: str = "main",
    retries: int = 0,
    **change,
) -> int:
    """Commit ``operation``'s :func:`_next_manifest` on ``ref`` → new
    snapshot id. An op anchored to the head it read passes ``base`` =
    (that head's id, the manifest to derive from) and fails fast on a
    lost race. An op whose effect commutes (append, cherry-pick)
    passes none: it derives against the live head and, having lost a
    race, re-derives against the new one up to ``retries`` times — its
    data files are written once, only the metadata commit retries
    (Iceberg's ``commit.retry.num-retries``)."""
    attempt = 0
    while True:
        parent, m = base or _head(path, ref)
        try:
            return _commit(
                path, _next_manifest(m, operation, **change), parent, ref=ref
            )
        except CommitConflict:
            attempt += 1
            if base is not None or attempt > retries:
                raise


def _partition_expr(df: DataFrame, spec: list[dict]):
    """Partition-transform columns for a spec. The derived columns are
    COPIES (``__p_<col>``), so ``partitionBy`` strips only the copy and
    every data file stays self-contained — leaf files are readable
    without basePath reconstruction (the manifest is the planner, not
    the directory tree)."""
    from pyspark.sql import functions as F

    out = df
    names = []
    for t in spec:
        col, tr = t["col"], t["transform"]
        name = f"__p_{tr}_{col}"
        if tr == "identity":
            out = out.withColumn(name, F.col(col).cast("string"))
        elif tr == "bucket":
            out = out.withColumn(
                name, F.pmod(F.xxhash64(F.col(col)), F.lit(int(t["n"])))
            )
        elif tr == "truncate":
            w = int(t["w"])
            out = out.withColumn(
                name, (F.col(col).cast("long") - F.pmod(F.col(col).cast("long"), F.lit(w)))
            )
        else:
            raise ValueError(f"unknown partition transform {tr!r}")
        names.append(name)
    return out, names


def _data_path(path: str, rel: str) -> str:
    """Absolute path of a table-relative manifest path. Spark resolves
    a relative path against the JVM's working directory, fixed when
    the JVM started; this module's metadata I/O resolves it against
    the process's current one. Every path handed to Spark is absolute,
    so both always name the same file."""
    return os.path.abspath(os.path.join(path, rel))


def _rel_path(path: str, file_path: str) -> str:
    """Table-relative manifest path of a data file as Spark names it in
    ``_metadata.file_path``: a percent-encoded ``file:`` URI whose exact
    shape (file:/x vs file:///x) is not contractual. The inverse of
    :func:`_data_path`, for relative and absolute table paths alike."""
    if file_path.startswith("file:"):
        file_path = "/" + unquote(file_path[5:]).lstrip("/")
    return os.path.relpath(file_path, path)


def _write_data_files(
    df: DataFrame,
    path: str,
    stat_cols: list[str] | None,
    head: dict | None = None,
) -> list[dict]:
    """Write ``df`` into a unique staging subdir of data/ and return
    manifest entries for the files produced, with min/max stats of
    ``stat_cols`` (default: the ``head`` manifest's). Files are
    immutable once written; uncommitted stagings are invisible
    orphans. Under the partition spec of ``head`` the write is
    hive-laid-out by the transform copies and every entry records its
    partition tuple + spec id (Iceberg: each data file is tagged with
    the spec it was written under); rewrites pass no head."""
    head = head or {}
    stat_cols = (head.get("stat_cols") if stat_cols is None else stat_cols) or []
    spec = head.get("spec")
    spec_id = int(head.get("spec_id") or 0)
    sub = _data_path(path, os.path.join("data", uuid.uuid4().hex))
    if spec:
        pdf, pnames = _partition_expr(df, spec)
        pdf.write.mode("overwrite").partitionBy(*pnames).parquet(sub)
    else:
        df.write.mode("overwrite").parquet(sub)
    entries = []
    for root, _dirs, names in sorted(os.walk(sub)):
        part: dict = {}
        if spec:
            for seg in os.path.relpath(root, sub).split(os.sep):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    # Spark %-escapes special chars in hive dir values
                    # (Hive escapePathName: '=', ':', '%', ...); the
                    # manifest must record the REAL value or identity
                    # pruning compares the escaped form against the
                    # predicate bounds and silently skips matching
                    # files
                    part[k.removeprefix("__p_")] = unquote(v)
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            fpath = os.path.join(root, name)
            rel = os.path.relpath(fpath, path)
            e = {"path": rel, **_file_stats(fpath, stat_cols)}
            if spec:
                e["partition"] = part
                e["spec_id"] = spec_id
            entries.append(e)
    return entries


def append_snapshot(
    df: DataFrame,
    path: str,
    stat_cols: list[str] | None = None,
    batch_id: int | None = None,
    commit_retries: int = 3,
    ref: str = "main",
) -> int:
    """Commit ``df`` as an APPEND snapshot → new snapshot id.

    The new manifest carries the parent's file list plus the files
    just written. ``stat_cols`` adds per-file min/max for those
    columns (enables :func:`plan_files` pruning). ``batch_id`` tags
    the snapshot with a streaming micro-batch id (see
    :func:`streaming_table_sink`).

    Lost a commit race? Appends are order-independent, so the data
    files (written ONCE, immutable) are re-based onto the new head
    and only the metadata commit retries — Iceberg's
    ``commit.retry.num-retries`` discipline. At cluster scale many
    writers appending concurrently is the NORMAL state; without
    metadata-only retries every conflict would re-shuffle and
    re-write the loser's data. ``commit_retries=0`` restores
    fail-fast behavior; :class:`CommitConflict` is raised once
    retries are exhausted. Stats columns are resolved once at write
    time (they are baked into the file entries).

    ``ref`` commits to a BRANCH head instead of ``current`` — the
    write side of the write-audit-publish pattern
    (:func:`create_branch` / :func:`publish_branch`)."""
    _, head = _head(path, ref)
    new = _write_data_files(df, path, stat_cols, head=head)
    return _commit_next(
        path, "append", ref=ref, retries=commit_retries, wrote=new,
        schema=df.schema.simpleString(), stat_cols=stat_cols,
        batch_id=batch_id,
    )


def append_snapshots_split(
    df: DataFrame,
    path: str,
    split_col: str,
    values: list,
    stat_cols: list[str] | None = None,
    commit_retries: int = 3,
    ref: str = "main",
) -> list[int]:
    """Stage MANY append snapshots with ONE Spark write job, then
    commit them in ``values`` order — the N-commit backlog builder.

    ``df`` is written once, hive-partitioned by ``split_col``; each
    value's rows become that value's own append snapshot, committed in
    the given order exactly as N :func:`append_snapshot` calls would
    (same manifests, same chain) but without N separate write jobs.
    Repartition to 1 upstream if each snapshot must be a single file.
    Spec-less tables only (the staging layout realizes the split, not
    a table partition spec). Returns the new snapshot ids in order."""
    _, head = _head(path, ref)
    if head.get("spec"):
        raise ValueError("append_snapshots_split requires a spec-less table")
    if stat_cols is None:
        stat_cols = head.get("stat_cols")
    stat_cols = stat_cols or []
    schema = df.drop(split_col).schema.simpleString()
    sub = _data_path(path, os.path.join("data", uuid.uuid4().hex))
    df.write.mode("overwrite").partitionBy(split_col).parquet(sub)
    sids: list[int] = []
    for v in values:
        vdir = os.path.join(sub, f"{split_col}={v}")
        names = sorted(os.listdir(vdir)) if os.path.isdir(vdir) else []
        entries = [
            {
                "path": os.path.relpath(os.path.join(vdir, name), path),
                **_file_stats(os.path.join(vdir, name), stat_cols),
            }
            for name in names
            if name.endswith(".parquet")
        ]
        sids.append(
            _commit_next(
                path, "append", ref=ref, retries=commit_retries,
                wrote=entries, schema=schema, stat_cols=stat_cols,
            )
        )
    return sids


def set_partition_spec(path: str, spec: list[dict]) -> int:
    """Iceberg partition-spec EVOLUTION: change how FUTURE data files
    are laid out, as a metadata-only commit — no data file moves, no
    rewrite. Each transform is ``{"col", "transform"}`` with
    ``transform`` ∈ identity | bucket (+``n``) | truncate (+``w``).

    Old files keep the layout (and per-file partition tuple + spec id)
    they were written under; new appends partition by the new spec.
    Scan planning prunes each file BY ITS OWN spec — exactly Iceberg's
    split planning across spec changes — so a table can start
    unpartitioned, evolve to identity(lang) when language skew
    emerges, and later to bucket(doc_id, N) for join co-location,
    without ever rewriting history. ``spec=[]`` reverts to
    unpartitioned writes. Returns the new snapshot id."""
    for t in spec:
        if t.get("transform") not in ("identity", "bucket", "truncate"):
            raise ValueError(f"unknown partition transform: {t!r}")
        if t["transform"] == "bucket" and "n" not in t:
            raise ValueError("bucket transform needs 'n'")
        if t["transform"] == "truncate" and "w" not in t:
            raise ValueError("truncate transform needs 'w'")
    return _commit_next(
        path, "set-spec", base=_live_head(path), spec=list(spec)
    )


def _all_refs(path: str) -> list[str]:
    """Every live ref name: ``main`` plus any ``ref-*`` branch files."""
    refs = ["main"]
    try:
        names = os.listdir(_meta_dir(path))
    except FileNotFoundError:
        return refs
    refs.extend(
        n[4:] for n in sorted(names)
        if n.startswith("ref-") and not n.startswith("ref-.")
    )
    return refs


def create_branch(path: str, name: str, at: int | None = None) -> int:
    """Create a branch pointing at ``at`` (default: current main head)
    — the start of the WRITE-AUDIT-PUBLISH pattern (Iceberg's
    ``spark.wap.branch``): writers append to the branch, audits read
    it, and :func:`publish_branch` fast-forwards main atomically, so
    main's readers never see unaudited data. Metadata-only: one
    pointer file, no snapshot, no data."""
    if name == "main" or not name.isidentifier():
        raise ValueError(f"invalid branch name {name!r}")
    base = current_snapshot_id(path) if at is None else int(at)
    if base is None:
        raise FileNotFoundError(f"no current snapshot in {path}")
    ptr = _ptr_file(path, name)
    # dot-prefixed temp: a plain "ref-<name>.<uuid>" temp would be
    # listed by _all_refs as a phantom branch (and momentarily
    # treated as a GC root by expire/vacuum) during the link window
    tmp = os.path.join(_meta_dir(path), f".ref-{name}.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(str(base))
    try:
        os.link(tmp, ptr)  # exclusive: an existing branch is an error
    except FileExistsError:
        raise ValueError(f"branch {name!r} already exists") from None
    finally:
        os.remove(tmp)
    return base


def _is_ancestor(path: str, ancestor: int, sid: int | None) -> bool:
    while sid is not None:
        if sid == ancestor:
            return True
        m = _read_manifest_expired_ok(path, sid)
        sid = m.get("parent_id") if m is not None else None
    return False


def publish_branch(
    path: str,
    name: str,
    drop: bool = True,
    cherry_pick: bool = True,
    commit_retries: int = 3,
) -> int:
    """PUBLISH an audited branch. When main's current head is an
    ancestor of the branch head (main did not advance during the
    audit) this is an atomic fast-forward — Iceberg's
    ``fast_forward('main', branch)``. When main DID advance and
    ``cherry_pick`` is on (the default), the branch's snapshots are
    RE-BASED onto the new main head as fresh append commits — the
    metadata-only re-base the production WAP flow needs so a
    concurrent writer doesn't wedge every audit-then-publish cycle.

    Cherry-picking is sound only for APPEND snapshots: a branch
    append's files are brand new, so they commute with anything main
    did meanwhile (appends, deletes, compactions — none can touch
    files they never saw). Any non-append snapshot in the branch
    segment raises :class:`CommitConflict` (its effect is anchored to
    the fork-time table state). Re-based file entries are re-stamped
    with their NEW commit's sequence (Iceberg cherry-pick semantics:
    published rows are not shadowed by equality deletes that landed
    on main while the audit ran). ``cherry_pick=False`` restores the
    strict fast-forward-only contract. The branch pointer is removed
    after publishing unless ``drop=False``. Returns main's new head
    snapshot id."""
    head = ref_head(path, name)
    if head is None:
        raise FileNotFoundError(f"no branch {name!r} in {path}")
    cur = current_snapshot_id(path)
    if cur is not None and _is_ancestor(path, cur, head):
        tmp = os.path.join(_meta_dir(path), f".ptr.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(head))
        if current_snapshot_id(path) != cur:
            os.remove(tmp)
            # lost the fast-forward window: fall through to the
            # cherry-pick path below instead of wedging
            if not cherry_pick:
                raise CommitConflict(
                    f"table {path} advanced during publish"
                )
        else:
            os.replace(tmp, _ptr_file(path, "main"))
            if drop:
                drop_branch(path, name)
            return head
    if not cherry_pick or cur is None:
        raise CommitConflict(
            f"main ({cur}) is not an ancestor of branch {name!r} head "
            f"({head}); publish would lose main's commits"
        )
    # branch segment = snapshots on the branch above the fork point
    # (the first ancestor of the branch head that is also on main)
    segment: list[tuple[int, dict]] = []
    sid: int | None = head
    while sid is not None and not _is_ancestor(path, sid, cur):
        sm = _read_manifest_expired_ok(path, sid)
        if sm is None:
            raise ValueError(
                f"branch {name!r} snapshot {sid} has been expired; "
                "the segment cannot be replayed"
            )
        segment.append((sid, sm))
        sid = sm.get("parent_id")
    segment.reverse()  # oldest first: replay in commit order
    for s_sid, sm in segment:
        if sm.get("operation") != "append":
            raise CommitConflict(
                f"branch snapshot {s_sid} is "
                f"{sm.get('operation')!r}; only append snapshots can "
                "be cherry-picked onto an advanced main"
            )
    last = cur
    for s_sid, sm in segment:
        added = set(sm.get("added") or [])
        # strip the branch-time seq so _commit re-stamps with the new
        # commit's sequence (see docstring)
        last = _commit_next(
            path, "append", retries=commit_retries,
            wrote=[
                {k: v for k, v in e.items() if k != "seq"}
                for e in sm["files"]
                if e["path"] in added
            ],
            schema=sm.get("schema"), cherry_picked_from=s_sid,
        )
    if drop:
        drop_branch(path, name)
    return last


def drop_branch(path: str, name: str) -> None:
    """Delete a branch pointer (its snapshots stay until
    :func:`expire_snapshots`; :func:`remove_orphan_files` treats live
    branches as roots)."""
    try:
        os.remove(_ptr_file(path, name))
    except FileNotFoundError:
        pass


def _tag_file(path: str, name: str) -> str:
    return os.path.join(_meta_dir(path), f"tag-{name}")


def create_tag(path: str, name: str, snapshot_id: int | None = None) -> int:
    """Pin a NAMED, IMMUTABLE reference to a snapshot — Iceberg tags,
    the read-only half of the ref surface (branches move with commits,
    tags never do). A tag is a GC root: :func:`expire_snapshots` and
    :func:`remove_orphan_files` keep a tagged snapshot's chain and
    files alive however far main advances, so ``read_snapshot(...,
    ref="v1-audit-passed")`` works forever — the release-pinning
    pattern (tag the snapshot a model was trained from; reproduce the
    exact corpus years later). Metadata-only: one pointer file.
    Returns the pinned snapshot id."""
    if not name.isidentifier() and not name.replace("-", "_").isidentifier():
        raise ValueError(f"invalid tag name {name!r}")
    sid = current_snapshot_id(path) if snapshot_id is None else int(snapshot_id)
    if sid is None:
        raise FileNotFoundError(f"no current snapshot in {path}")
    read_manifest(path, sid)  # must exist (raises otherwise)
    if ref_head(path, name) is not None:
        raise ValueError(f"a branch named {name!r} already exists")
    tag = _tag_file(path, name)
    tmp = os.path.join(_meta_dir(path), f".tag-{name}.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(str(sid))
    try:
        os.link(tmp, tag)  # exclusive: tags are immutable
    except FileExistsError:
        raise ValueError(f"tag {name!r} already exists") from None
    finally:
        os.remove(tmp)
    return sid


def drop_tag(path: str, name: str) -> None:
    """Remove a tag pointer (the snapshot stays until untagged AND
    expired)."""
    try:
        os.remove(_tag_file(path, name))
    except FileNotFoundError:
        pass


def list_tags(path: str) -> dict[str, int]:
    """Live tags as ``{name: snapshot_id}``."""
    out: dict[str, int] = {}
    try:
        names = os.listdir(_meta_dir(path))
    except FileNotFoundError:
        return out
    for n in sorted(names):
        if n.startswith("tag-") and not n.startswith("tag-."):
            try:
                with open(os.path.join(_meta_dir(path), n)) as f:
                    out[n[4:]] = int(f.read().strip())
            except (FileNotFoundError, ValueError):
                continue  # racing create/drop or debris
    return out


def _resolve_ref(path: str, ref: str) -> int | None:
    """Snapshot id a ref name points at: main / branch / tag."""
    sid = ref_head(path, ref)
    if sid is None and ref != "main":
        sid = list_tags(path).get(ref)
    return sid


def snapshot_as_of(path: str, ts: float, ref: str = "main") -> int:
    """Timestamp time travel (Iceberg's ``FOR TIMESTAMP AS OF``): the
    newest snapshot on ``ref``'s ancestry committed at or before
    ``ts`` (manifests stamp commit wall time at the claim). Raises
    ValueError when the table has no snapshot that old — matching
    Iceberg's error rather than silently reading something newer."""
    sid = _resolve_ref(path, ref)
    if sid is None:
        raise FileNotFoundError(f"no ref {ref!r} in {path}")
    while sid is not None:
        m = _read_manifest_expired_ok(path, sid)
        if m is None:
            break  # expired past — nothing reachable that old
        if float(m.get("ts") or 0) <= ts:
            return sid
        sid = m.get("parent_id")
    raise ValueError(
        f"no snapshot committed at or before {ts} on ref {ref!r} in {path}"
    )


def last_committed_batch(path: str) -> int | None:
    """Most recent streaming batch id committed to the table, or None.
    Every commit carries its parent's batch id, so the head's manifest
    holds it; the walk newest-first covers chains whose manifests do
    not (micro-batch ids are monotonically increasing, so the first
    tagged snapshot found is the latest batch)."""
    return _last_batch_in_chain(path, current_snapshot_id(path))


# --------------------------------------------------------- inspection
# Iceberg exposes table metadata AS TABLES (`db.tbl.snapshots`,
# `.files`, `.refs`, `.history`) so operators debug and monitor with
# the same query engine that reads the data. Same surface here: each
# returns a DataFrame built purely from manifests and ref pointers —
# no data file is opened, so these stay metadata-cost even on a
# 100 TB table with millions of files per snapshot (the files listing
# is the only one proportional to file count, exactly like Iceberg's).


def inspect_snapshots(
    spark: SparkSession, path: str, ref: str = "main"
) -> DataFrame:
    """One row per reachable snapshot on ``ref``'s ancestry (oldest
    first): commit-level accounting straight from the manifests.
    Columns: snapshot_id, parent_id, operation, added_files,
    added_rows, n_data_files, n_delete_files, total_rows,
    total_bytes, committed_at (epoch seconds — the AS OF travel
    key). Expired ancestors fall off the front of the lineage
    (Iceberg history semantics)."""
    sid = _resolve_ref(path, ref)
    if sid is None:
        raise FileNotFoundError(f"no ref {ref!r} in {path}")
    rows = []
    while sid is not None:
        m = _read_manifest_expired_ok(path, sid)
        if m is None:
            break
        added = set(m.get("added") or [])
        files = m.get("files") or []
        rows.append(
            (
                sid,
                m.get("parent_id"),
                m.get("operation"),
                len(added),
                sum(e["rows"] for e in files if e["path"] in added),
                len(files),
                len(m.get("delete_files") or []),
                sum(e["rows"] for e in files),
                sum(e.get("bytes") or 0 for e in files),
                float(m.get("ts") or 0),
            )
        )
        sid = m.get("parent_id")
    rows.reverse()
    return spark.createDataFrame(
        rows,
        "snapshot_id bigint, parent_id bigint, operation string, "
        "added_files bigint, added_rows bigint, n_data_files bigint, "
        "n_delete_files bigint, total_rows bigint, total_bytes bigint, "
        "committed_at double",
    )


def inspect_files(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> DataFrame:
    """Per-file manifest entries of one snapshot: data files AND
    delete files (content='data' | 'pos-delete' | 'eq-delete' —
    Iceberg's `.files` content field). Columns: file_path (relative),
    content, rows, bytes, spec_id, seq, partition (JSON string of the
    file's partition tuple, null when unpartitioned)."""
    m = read_manifest(path, snapshot_id)
    rows = []
    for e in m.get("files") or []:
        rows.append(
            (
                e["path"],
                "data",
                e.get("rows"),
                e.get("bytes"),
                e.get("spec_id"),
                e.get("seq"),
                json.dumps(e["partition"], sort_keys=True)
                if e.get("partition")
                else None,
            )
        )
    for e in m.get("delete_files") or []:
        rows.append(
            (
                e["path"],
                "eq-delete" if e.get("kind") == "eq" else "pos-delete",
                e.get("rows"),
                e.get("bytes"),
                None,
                e.get("seq"),
                None,
            )
        )
    return spark.createDataFrame(
        rows,
        "file_path string, content string, rows bigint, bytes bigint, "
        "spec_id bigint, seq bigint, partition string",
    )


def inspect_refs(spark: SparkSession, path: str) -> DataFrame:
    """Every live ref: main, branches, tags → (name, type,
    snapshot_id). The WAP/audit surface: `SELECT * FROM refs` shows
    what is published (main), staged (branches), and pinned (tags)."""
    rows = []
    for name in _all_refs(path):
        sid = ref_head(path, name)
        if sid is not None:
            rows.append((name, "main" if name == "main" else "branch", sid))
    for name, sid in sorted(list_tags(path).items()):
        rows.append((name, "tag", sid))
    return spark.createDataFrame(
        rows, "name string, type string, snapshot_id bigint"
    )


def _last_batch_in_chain(path: str, sid: int | None) -> int | None:
    while sid is not None:
        m = _read_manifest_expired_ok(path, sid)
        if m is None:
            return None  # ancestry expired before any tagged snapshot
        if "batch_id" in m:
            return int(m["batch_id"])
        sid = m.get("parent_id")
    return None


def rollback_to(path: str, snapshot_id: int) -> int:
    """Iceberg's ``rollback_to_snapshot``: restore the table to an
    earlier snapshot's content as a NEW commit → new snapshot id.

    No data moves — the rollback manifest re-references the target's
    files, its parent is the superseded head (the mistake stays in
    history, auditable and time-travelable until
    :func:`expire_snapshots`), and the swap goes through the same
    optimistic-concurrency commit as every other writer.

    Streaming progress rolls back WITH the data: the manifest pins
    ``batch_id`` to the last batch in the TARGET's chain (−1 if none —
    without a pin the rollback would inherit the undone head's), so
    micro-batches the rollback undid are re-admitted on replay instead
    of being mistaken for already-committed. A rollback is not an append:
    :func:`incremental_read` refuses to traverse it (content moved
    backwards — not expressible as a delta)."""
    cur = current_snapshot_id(path)
    if cur is None:
        raise FileNotFoundError(f"no current snapshot in {path}")
    if snapshot_id == cur:
        return cur
    sid: int | None = cur
    while sid is not None and sid != snapshot_id:
        m = _read_manifest_expired_ok(path, sid)
        sid = m.get("parent_id") if m is not None else None
    if sid is None:
        raise ValueError(
            f"snapshot {snapshot_id} is not a live ancestor of current "
            f"{cur} (never existed, or expired)"
        )
    b = _last_batch_in_chain(path, snapshot_id)
    return _commit_next(
        path, "rollback", base=(cur, read_manifest(path, snapshot_id)),
        batch_id=-1 if b is None else b, rollback_of=snapshot_id,
    )


def streaming_table_sink(path: str, stat_cols: list[str] | None = None):
    """foreachBatch sink committing each micro-batch as an append
    snapshot EXACTLY ONCE.

    foreachBatch itself is at-least-once: after a failure the engine
    replays the last batch from the checkpoint. Recording the batch id
    inside the snapshot manifest and skipping any batch whose id is
    <= the last committed one turns the at-least-once replay into an
    exactly-once table commit — the same batch-id dedupe Iceberg's
    Structured Streaming sink performs via snapshot summaries. The
    table is the source of truth for what committed (not the
    checkpoint), so the skip is correct even if the failure happened
    between the commit and the checkpoint write."""

    def sink(batch_df: DataFrame, batch_id: int):
        last = last_committed_batch(path)
        if last is not None and batch_id <= last:
            return
        append_snapshot(batch_df, path, stat_cols=stat_cols, batch_id=batch_id)

    return sink


def streaming_upsert_sink(
    path: str,
    key_col: str,
    stat_cols: list[str] | None = None,
    ref: str = "main",
):
    """foreachBatch sink UPSERTING each micro-batch by key — the CDC
    table-maintenance pattern (Iceberg's streaming MERGE): every
    batch's rows replace same-key rows via a merge-on-read commit
    (:func:`merge_into_mor` — one kilobyte-scale position-delete file
    + the batch's data files; nothing rewrites), so the table always
    holds the LATEST value per key while every historical state stays
    time-travelable. Exactly-once like :func:`streaming_table_sink`:
    the batch id rides in the merge manifest and replayed batches
    no-op. Batches must not carry duplicate keys (reduce upstream —
    e.g. max_by(seq) per key inside the batch).

    ``ref`` targets a WAP branch (Iceberg's spark.wap.branch for
    streams): the stream maintains the branch while main's readers
    see nothing until :func:`publish_branch` — batch-id replay
    bookkeeping is scoped to the branch's own chain."""

    def sink(batch_df: DataFrame, batch_id: int):
        head = ref_head(path, ref)
        last = _last_batch_in_chain(path, head)
        if last is not None and batch_id <= last:
            return
        if batch_df.isEmpty():
            return  # a replayed empty batch upserts nothing anyway
        if head is None:
            append_snapshot(
                batch_df, path, stat_cols=stat_cols, batch_id=batch_id,
                ref=ref,
            )
        else:
            merge_into_mor(
                batch_df.sparkSession, path, batch_df, key_col,
                batch_id=batch_id, ref=ref,
            )

    return sink


def overwrite_snapshot(
    df: DataFrame, path: str, stat_cols: list[str] | None = None
) -> int:
    """Commit ``df`` as a full-table OVERWRITE snapshot. Old files
    stay on disk for time travel until :func:`expire_snapshots`."""
    parent, head = _head(path)
    new = _write_data_files(df, path, stat_cols, head=head)
    return _commit_next(
        path, "overwrite", base=(parent, head), keep=[], wrote=new,
        schema=df.schema.simpleString(), stat_cols=stat_cols,
    )


# xxHash64 of one 64-bit value — the specialization Spark's
# ``xxhash64`` expression applies to LongType inputs (public xxHash
# spec; Spark seeds with 42). Needed so the PLANNER can compute the
# bucket of a point predicate without a Spark session: at 100 TB a
# point lookup on a bucket(col, N)-partitioned table must touch 1/N
# of the files, and the decision has to be metadata-only.
_XX_P1 = 0x9E3779B185EBCA87
_XX_P2 = 0xC2B2AE3D27D4EB4F
_XX_P3 = 0x165667B19E3779F9
_XX_P4 = 0x85EBCA77C2B2AE63
_XX_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _xxh64_long(v: int, seed: int = 42) -> int:
    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _U64

    h = (seed + _XX_P5 + 8) & _U64
    k1 = ((v & _U64) * _XX_P2) & _U64
    k1 = (rotl(k1, 31) * _XX_P1) & _U64
    h ^= k1
    h = (rotl(h, 27) * _XX_P1 + _XX_P4) & _U64
    h ^= h >> 33
    h = (h * _XX_P2) & _U64
    h ^= h >> 29
    h = (h * _XX_P3) & _U64
    h ^= h >> 32
    # back to Java signed; Python % on a positive modulus then equals
    # Spark's pmod
    return h - (1 << 64) if h >= (1 << 63) else h


def plan_files(
    path: str,
    snapshot_id: int | None = None,
    prune: tuple[str, object, object]
    | list[tuple[str, object, object]]
    | None = None,
) -> list[str]:
    """Scan planning: absolute data-file paths for a snapshot,
    optionally pruned by ``(col, lo, hi)`` or a LIST of such triples
    (a conjunction — multi-dimensional range pruning, the payoff of
    Z-order clustering). A file is kept iff every predicate's
    [min_col, max_col] interval intersects its [lo, hi] (files
    lacking stats are conservatively kept). Files written under a
    partition spec are ALSO pruned by their own partition tuple:

    - identity(col): values outside [lo, hi] skip the file even
      without column stats;
    - bucket(col, n): a POINT predicate (lo == hi) on a bigint col
      skips every file whose bucket differs from
      ``pmod(xxhash64(lo), n)`` — computed planner-side by the same
      xxHash64-of-long Spark evaluates, so a point lookup plans 1/n
      of the files with zero footer reads. Range predicates stay
      conservative (like Iceberg: bucket layout cannot answer a
      range);
    - truncate(col, w): the partition value t covers [t, t+w-1], so
      a range predicate skips files with t+w-1 < lo or t > hi.

    Bucket/truncate pruning applies only to files written under the
    manifest's CURRENT spec (older spec ids don't record their n/w
    here; those files stay conservative — Iceberg prunes them via
    per-spec manifests, the same correctness posture). Each file
    prunes by the spec it was written under, so the plan is correct
    across spec evolution. This is manifest-driven: no directory
    listing, no parquet footer reads at plan time."""
    m = read_manifest(path, snapshot_id)
    preds = (
        []
        if prune is None
        else ([prune] if isinstance(prune, tuple) else list(prune))
    )
    cur_spec = {t["col"]: t for t in (m.get("spec") or [])}
    cur_spec_id = m.get("spec_id")
    schema_s = m.get("schema") or ""
    out = []
    for e in m["files"]:
        skip = False
        part = e.get("partition") or {}
        same_spec = part and e.get("spec_id") == cur_spec_id
        for c, lo, hi in preds:
            fmin, fmax = e.get(f"min_{c}"), e.get(f"max_{c}")
            if fmin is not None and fmax is not None:
                if fmax < lo or fmin > hi:
                    skip = True
                    break
            pv = part.get(f"identity_{c}")
            if pv is not None:
                # hive dir values are strings; coerce to the
                # predicate's type, keep the file if uncoercible
                # (e.g. __HIVE_DEFAULT_PARTITION__ for NULLs)
                try:
                    v = type(lo)(pv)
                except (TypeError, ValueError):
                    continue
                if v < lo or v > hi:
                    skip = True
                    break
            if not same_spec:
                continue
            t = cur_spec.get(c)
            if t is None:
                continue
            if (
                t["transform"] == "bucket"
                and lo == hi
                and isinstance(lo, int)
                and not isinstance(lo, bool)
                and f"{c}:bigint" in schema_s
            ):
                pv = part.get(f"bucket_{c}")
                if pv is not None:
                    try:
                        b = int(pv)
                    except ValueError:
                        continue
                    if b != _xxh64_long(int(lo)) % int(t["n"]):
                        skip = True
                        break
            elif t["transform"] == "truncate":
                pv = part.get(f"truncate_{c}")
                if pv is not None:
                    try:
                        tv = int(pv)
                    except ValueError:
                        continue
                    w = int(t["w"])
                    if tv + w - 1 < lo or tv > hi:
                        skip = True
                        break
        if not skip:
            out.append(_data_path(path, e["path"]))
    return out


def read_snapshot(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    prune: tuple[str, object, object] | None = None,
    ref: str = "main",
    as_of: float | None = None,
) -> DataFrame:
    """Read a snapshot (time travel via ``snapshot_id``, or by wall
    time via ``as_of`` — Iceberg's FOR TIMESTAMP AS OF), optionally
    file-pruned. An empty post-prune plan still returns the right
    schema (read of the full plan's schema, filtered to nothing).

    Schema evolution: when the snapshot chain carries appends with
    widened schemas (columns added over time), the read merges parquet
    footers so old files surface the new columns as NULL — Iceberg's
    add-column semantics. The merge option is only paid when the
    manifest records a schema change (``schema_evolved``). ``ref``
    reads a branch head (audit reads in the write-audit-publish
    flow)."""
    if as_of is not None:
        if snapshot_id is not None:
            raise ValueError("pass either snapshot_id or as_of, not both")
        snapshot_id = snapshot_as_of(path, as_of, ref)
    if snapshot_id is None and ref != "main":
        snapshot_id = _resolve_ref(path, ref)
        if snapshot_id is None:
            raise FileNotFoundError(f"no branch or tag {ref!r} in {path}")
    m = read_manifest(path, snapshot_id)
    reader = _reader(spark, m)
    files = plan_files(path, snapshot_id, prune)
    if not files:
        all_files = plan_files(path, snapshot_id)
        df = reader.parquet(*all_files)
        return df.where("1 = 0")
    return _apply_delete_files(spark, reader.parquet(*files), path, m)


def _reader(spark: SparkSession, m: dict):
    """Parquet reader for a snapshot's files: footers are merged only
    when the manifest records a schema change (``schema_evolved``)."""
    reader = spark.read
    if m.get("schema_evolved"):
        reader = reader.option("mergeSchema", "true")
    return reader


def _apply_delete_files(
    spark: SparkSession, df: DataFrame, path: str, m: dict | None
) -> DataFrame:
    """Merge-on-read scan: apply the snapshot's delete files —
    Iceberg v2's read path for cheap deletes/upserts. Position
    deletes anti-join on (file_path, pos); equality deletes anti-join
    on the key column, scoped to data files whose commit sequence
    precedes the delete's. The delete sets are broadcast (they are
    the SMALL side by construction: addresses/keys, not rows); data
    rows never shuffle."""
    if not (m or {}).get("delete_files"):
        return df
    cols = df.columns
    return _address_and_filter(spark, df, path, m).select(*cols)


def _address_and_filter(
    spark: SparkSession, scan: DataFrame, path: str, m: dict | None
) -> DataFrame:
    """Parquet scan → rows carrying their own address as ``__fp`` /
    ``__pos`` columns, with the manifest's delete files applied. The
    ``_metadata`` hidden column only resolves directly on the scan
    relation (it is lost through joins/projections), so the address
    must be captured FIRST — the MOR writers then reuse the captured
    columns to emit new delete rows.

    Position deletes address explicit immutable files, so files
    appended after the delete are untouched automatically. Equality
    deletes carry a commit sequence: a row is shadowed iff its key
    matches AND its file's seq < the delete's seq (Iceberg v2
    sequence-number scoping) — rows re-appended later with the same
    key survive."""
    from pyspark.sql import functions as F

    df = scan.withColumn("__fp", F.col("_metadata.file_path")).withColumn(
        "__pos", F.col("_metadata.row_index")
    )
    dels = (m or {}).get("delete_files") or []
    pos = [e for e in dels if e.get("kind") != "eq"]
    eq = [e for e in dels if e.get("kind") == "eq"]
    def _norm(col):
        # plain absolute path from a file URI, decoded as _rel_path
        # decodes it: the runtime's rendering of _metadata.file_path
        # (file:/x vs file:///x) is not contractual, it percent-encodes
        # a space or '%' but leaves '+' literal (which url_decode would
        # read as a space), and a join miss would silently resurrect
        # deleted rows or shadow re-appended ones — every address join
        # compares this one form
        bare = F.regexp_replace(F.regexp_replace(col, "^file:", ""), "^/+", "/")
        return F.url_decode(F.replace(bare, F.lit("+"), F.lit("%2B")))

    if pos:
        ddf = spark.read.parquet(*[_data_path(path, e["path"]) for e in pos])
        df = df.join(
            F.broadcast(ddf),
            (_norm(F.col("__fp")) == _norm(ddf["file_path"]))
            & (F.col("__pos") == ddf["pos"]),
            "left_anti",
        )
    if eq:
        # per-row file sequence via a broadcast (file_path, seq) map
        # derived from the manifest (missing seq = pre-feature file =
        # 0, conservatively shadowed by every eq delete), keyed by
        # absolute path: a join miss would coalesce __fseq to 0 and
        # wrongly shadow rows appended AFTER the delete
        seq_rows = [
            (_data_path(path, e["path"]), int(e.get("seq") or 0))
            for e in (m or {}).get("files") or []
        ]
        seq_df = spark.createDataFrame(seq_rows, "__sfp string, __fseq long")
        df = df.join(
            F.broadcast(seq_df), _norm(df["__fp"]) == seq_df["__sfp"], "left"
        ).drop("__sfp")
        for col in sorted({e["col"] for e in eq}):
            parts = []
            for e in eq:
                if e["col"] != col:
                    continue
                p = spark.read.parquet(_data_path(path, e["path"]))
                parts.append(
                    p.select(
                        F.col(col).alias("__dkey"),
                        F.lit(int(e["seq"])).alias("__dseq"),
                    )
                )
            kdf = parts[0]
            for p in parts[1:]:
                kdf = kdf.unionByName(p)
            df = df.join(
                F.broadcast(kdf),
                (df[col] == kdf["__dkey"])
                & (F.coalesce(df["__fseq"], F.lit(0)) < kdf["__dseq"]),
                "left_anti",
            )
        df = df.drop("__fseq")
    return df


# ------------------------------------------------------ row-level DML
# Every row-level DML op reaches rows through ONE addressing step
# (:func:`_address`): plan the candidate files from the manifest, scan
# them with their row addresses and the live deletes applied, select
# the hit rows. Merge-on-read stages their (file_path, pos) as one
# position-delete file and commits it; copy-on-write rewrites the
# files holding a hit row without those rows, in the same commit
# (:func:`_rewrite`) — the Iceberg spec's two write modes of one
# row-level operation.


class _Hits(NamedTuple):
    candidates: int  # files planned for the scan
    staged: list[dict]  # manifest entries of the staged delete file
    rows: int  # rows hit
    touched: frozenset[str]  # table-relative data files it addresses


_NO_HITS = _Hits(0, [], 0, frozenset())


def _stage(df: DataFrame, path: str) -> list[dict]:
    """Stage row addresses or delete keys as one file in a fresh
    staging dir of data/ → its manifest entry, or none (and no staging
    dir) when it holds no row. Uncommitted stagings are invisible
    orphans :func:`remove_orphan_files` reclaims."""
    entries = _write_data_files(df.repartition(1), path, [])
    staged = [e for e in entries if e["rows"]]
    if entries and not staged:
        shutil.rmtree(os.path.dirname(_data_path(path, entries[0]["path"])))
    return staged


def _select(
    rows: DataFrame,
    predicate: str | None,
    keys: DataFrame | None,
    hit: bool,
) -> DataFrame:
    """The rows a DML statement hits (``hit=True``) or keeps: where
    ``(predicate) = TRUE`` — SQL DELETE semantics, FALSE and NULL keep
    the row — or whose key is in the one-column ``keys`` (a broadcast
    semi/anti join: only the keys travel, never the table side)."""
    from pyspark.sql import functions as F

    if predicate is not None:
        return rows.where(
            f"({predicate}) = TRUE" if hit else f"({predicate}) IS NOT TRUE"
        )
    how = "left_semi" if hit else "left_anti"
    return rows.join(F.broadcast(keys), keys.columns, how)


def _address(
    spark: SparkSession,
    path: str,
    cur: int,
    m: dict,
    prune: tuple[str, object, object] | None,
    predicate: str | None = None,
    keys: DataFrame | None = None,
    stage: bool = True,
) -> _Hits:
    """The addressing step of every row-level DML op: the hit rows
    (:func:`_select`) of snapshot ``cur`` (manifest ``m``) in the files
    :func:`plan_files` keeps under ``prune``. With ``stage``, their
    (file_path, pos) are staged as one position-delete file for a
    merge-on-read commit; a copy-on-write op, which rewrites instead,
    only scans them. Either way the row count and the touched files
    ride that one job as observed metrics: the driver receives one
    path per touched file, never a row address."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    candidates = plan_files(path, cur, prune=prune)
    if not candidates:
        return _NO_HITS
    rows = _address_and_filter(
        spark, _reader(spark, m).parquet(*sorted(candidates)), path, m
    )
    obs = Observation(f"dml_{uuid.uuid4().hex}")
    hits = (
        _select(rows, predicate, keys, hit=True)
        .select(F.col("__fp").alias("file_path"), F.col("__pos").alias("pos"))
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.collect_set("file_path").alias("files"),
        )
    )
    staged: list[dict] = []
    if stage:
        staged = _stage(hits, path)
    else:
        hits.write.format("noop").mode("overwrite").save()
    return _Hits(
        len(candidates),
        staged,
        int(obs.get["rows"]),
        frozenset(_rel_path(path, fp) for fp in obs.get["files"]),
    )


def _rewrite(
    spark: SparkSession,
    path: str,
    m: dict,
    hits: _Hits,
    predicate: str | None = None,
    keys: DataFrame | None = None,
    like: DataFrame | None = None,
) -> tuple[list[dict], list[dict], str | None]:
    """The copy-on-write half of a DML op on manifest ``m``: rewrite
    only the touched files, keeping the rows the addressing step did
    not hit (the same ``predicate`` or ``keys`` with the selection
    inverted) → (kept entries, rewritten entries, schema of the
    rewritten rows). ``like``, an empty frame, gives the rewrite its
    schema."""
    if not hits.touched:
        return m["files"], [], None
    base = _apply_delete_files(
        spark,
        _reader(spark, m).parquet(
            *[_data_path(path, p) for p in sorted(hits.touched)]
        ),
        path,
        m,
    )
    rows = _select(base, predicate, keys, hit=False)
    if like is not None:
        rows = like.unionByName(rows, allowMissingColumns=True)
    kept = [e for e in m["files"] if e["path"] not in hits.touched]
    return (
        kept,
        _write_data_files(rows, path, m.get("stat_cols") or []),
        rows.schema.simpleString(),
    )


def _merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
    ref: str,
    rewrite: bool,
    batch_id: int | None = None,
) -> tuple[int, dict, _Hits]:
    """MERGE INTO by ``key_col`` in either write mode → (snapshot id,
    parent manifest, hits). The update rows are staged FIRST, with the
    key min/max riding the write as observed metrics — one Spark job,
    no separate agg pass — and the match keys are read back from the
    staged files, so the updates' lineage runs once."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cur, m = _live_head(path, ref)
    if rewrite and m["files"]:
        # a copy-on-write merge writes one schema: the union of the
        # table's and the updates' (types widened, missing columns
        # NULL), as one write of rewrite and updates together would.
        # The table's schema comes from footers, not the recorded
        # string, which cannot carry names like "a b": one footer
        # unless the schema evolved. The false filter makes the empty
        # side a local relation the optimizer drops from the union.
        paths = [_data_path(path, e["path"]) for e in m["files"]]
        if not m.get("schema_evolved"):
            paths = paths[:1]
        table = _reader(spark, m).parquet(*paths).where("1 = 0")
        updates = table.unionByName(updates, allowMissingColumns=True)
    obs = Observation(f"merge_{uuid.uuid4().hex}")
    new = _write_data_files(
        updates.observe(
            obs, F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
        ),
        path,
        m.get("stat_cols") or [],
    )
    lo, hi = obs.get["lo"], obs.get["hi"]
    hits, keys = _NO_HITS, None
    if lo is not None:
        keys = spark.read.parquet(
            *[_data_path(path, e["path"]) for e in new]
        ).select(key_col)
        hits = _address(
            spark, path, cur, m, (key_col, lo, hi), keys=keys,
            stage=not rewrite,
        )
    if rewrite:
        kept, rewritten, _ = _rewrite(
            spark, path, m, hits, keys=keys, like=updates.where("1 = 0")
        )
        change = {"keep": kept, "wrote": rewritten + new}
    else:
        change = {"wrote": new, "dels": hits.staged}
    sid = _commit_next(
        path, "merge" if rewrite else "merge-mor", base=(cur, m), ref=ref,
        schema=updates.schema.simpleString(), batch_id=batch_id, **change,
    )
    return sid, m, hits


def _delete(
    spark: SparkSession,
    path: str,
    predicate: str,
    prune: tuple[str, object, object] | None,
    ref: str,
    rewrite: bool,
) -> tuple[int, dict, _Hits]:
    """DELETE WHERE ``predicate`` in either write mode → (snapshot id,
    parent manifest, hits)."""
    cur, m = _live_head(path, ref)
    hits = _address(
        spark, path, cur, m, prune, predicate=predicate, stage=not rewrite
    )
    if rewrite:
        kept, rewritten, schema = _rewrite(
            spark, path, m, hits, predicate=predicate
        )
        sid = _commit_next(
            path, "delete", base=(cur, m), ref=ref,
            keep=kept, wrote=rewritten, schema=schema,
        )
    else:
        sid = _commit_next(
            path, "delete-mor", base=(cur, m), ref=ref, dels=hits.staged
        )
    return sid, m, hits


def delete_keys_mor(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str,
    ref: str = "main",
) -> dict:
    """Row-level delete by KEY as an equality-delete commit — the
    zero-read flavor of merge-on-read (Iceberg v2 equality deletes):
    the commit writes ONLY the key list; no data file is read, let
    alone rewritten. A GDPR erasure against a 100 TB table costs one
    kilobyte-scale write — the scan-side anti-join pays the filter,
    scoped by commit sequence so rows appended AFTER the delete with
    the same key survive (position deletes get that scoping for free
    by addressing files; equality deletes need the seq comparison).
    ``ref`` commits against a branch head instead of main (the
    write-audit-publish flow). Returns ``{"snapshot_id", "keys"}``."""
    cur, m = _live_head(path, ref)
    staged = [
        {**e, "kind": "eq", "col": key_col}
        for e in _stage(keys.select(key_col).distinct(), path)
    ]
    sid = _commit_next(path, "delete-mor", base=(cur, m), ref=ref, dels=staged)
    return {"snapshot_id": sid, "keys": sum(e["rows"] for e in staged)}


def delete_where_mor(
    spark: SparkSession,
    path: str,
    predicate: str,
    prune: tuple[str, object, object] | None = None,
    ref: str = "main",
) -> dict:
    """Row-level DELETE as a MERGE-ON-READ commit (Iceberg v2
    position deletes): instead of rewriting every file containing a
    matching row (:func:`delete_where`'s copy-on-write), commit the
    addressing step's ONE small delete file recording the (file_path,
    row position) of each deleted row, metadata-only. Scans apply the
    delete file via a broadcast anti-join (:func:`_apply_delete_files`);
    :func:`compact_data_files` / :func:`zorder_data_files` materialize
    the deletes and clear them (Iceberg's rewrite maintenance).

    This is the shape a 100 TB table needs for frequent small deletes:
    write amplification is O(rows deleted), not O(files touched) —
    a 10-row GDPR erasure against a 1000-file table writes one
    kilobyte-scale delete file instead of rewriting gigabytes.

    NULL semantics match SQL DELETE (rows where the predicate is TRUE
    are deleted; FALSE or NULL are kept). ``prune=(col, lo, hi)``
    limits the scan to files whose stats can hold a match. ``ref``
    commits against a branch head instead of main. Returns
    ``{"snapshot_id", "rows_deleted", "delete_files"}``."""
    sid, m, hits = _delete(spark, path, predicate, prune, ref, rewrite=False)
    return {
        "snapshot_id": sid,
        "rows_deleted": hits.rows,
        "delete_files": len(m.get("delete_files") or []) + len(hits.staged),
    }


def merge_into_mor(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
    batch_id: int | None = None,
    ref: str = "main",
) -> dict:
    """MERGE INTO as a merge-on-read commit: position-delete the
    matched rows and append the update rows — ONE snapshot, no data
    file rewritten (Iceberg v2's cheap-upsert path, vs
    :func:`merge_into`'s copy-on-write). Write amplification is
    O(size of updates), independent of how many table files hold a
    matched key. The addressing step prunes candidates by the update
    keys' min/max and matches keys by a broadcast semi-join; the
    matched files only contribute ROW ADDRESSES, never bytes.

    ``ref`` commits against a branch head instead of main — the
    write-audit-publish upsert: stage a MERGE on an audit branch,
    validate it there, then :func:`publish_branch`; main's readers
    never see the unaudited upsert (Iceberg's branch-scoped MERGE).
    An explicit ``batch_id`` tags the commit (the streaming upsert
    sink's exactly-once marker).

    Returns ``{"snapshot_id", "rows_shadowed", "files_touched"}``."""
    sid, _m, hits = _merge(
        spark, path, updates, key_col, ref, rewrite=False, batch_id=batch_id
    )
    return {
        "snapshot_id": sid,
        "rows_shadowed": hits.rows,
        "files_touched": len(hits.touched),
    }


def merge_into(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
) -> dict:
    """MERGE INTO (upsert by key) as a copy-on-write commit on main:
    rows of ``updates`` replace same-key rows of the table, new keys
    are inserted, and only the data files that actually CONTAIN a
    matched key are rewritten.

    Copy-on-write is :func:`merge_into_mor`'s addressing step with the
    matched rows removed in the same commit:

    1. the updates are staged once; manifest min/max pruning on their
       key range picks the candidate files — the rest keep their
       manifest entries and their bytes are never read;
    2. a broadcast semi-join of the candidates against the update keys
       finds the files holding a matched row. Candidates with
       overlapping stats but no matched key are kept verbatim (this
       bounds write amplification when key ranges overlap loosely);
    3. those files are rewritten through a broadcast anti-join on the
       update keys, and the kept files + rewritten files + update
       files commit as one ``merge`` snapshot. Driver-side state is
       the key (lo, hi) pair plus one path per touched file.

    Like compaction, a merge is not an append: :func:`incremental_read`
    refuses to traverse it. Streaming batch ids are carried forward so
    a replayed micro-batch after a merge still commits exactly once.
    Old files stay readable for time travel until
    :func:`expire_snapshots`.

    Returns ``{"snapshot_id", "files_total", "files_candidates",
    "files_rewritten"}``.
    """
    sid, m, hits = _merge(spark, path, updates, key_col, "main", rewrite=True)
    return {
        "snapshot_id": sid,
        "files_total": len(m["files"]),
        "files_candidates": hits.candidates,
        "files_rewritten": len(hits.touched),
    }


def delete_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    prune: tuple[str, object, object] | None = None,
) -> dict:
    """Row-level ``DELETE FROM t WHERE predicate`` as a copy-on-write
    commit on main: :func:`delete_where_mor`'s addressing step with the
    hit rows removed in the same commit. Optional manifest min/max
    pruning (``prune=(col, lo, hi)``) keeps files whose stats can't
    hold a matching row verbatim, unread; the scan of the rest finds
    the files holding a row where the predicate is TRUE, and only
    those are rewritten, keeping their rows where it is not. Candidates whose stats overlap but hold no matching row keep
    their manifest entries untouched.

    SQL DELETE semantics on NULLs: a row is deleted iff the predicate
    is TRUE — rows where it evaluates FALSE **or NULL** are kept (the
    rewrite filters on ``(predicate) IS NOT TRUE``).

    Commits a ``delete`` snapshot; like merge/replace it breaks the
    append-only change feed, carries the streaming batch id forward,
    and leaves old files readable for time travel. Returns
    ``{"snapshot_id", "files_total", "files_candidates",
    "files_rewritten", "rows_deleted"}``.
    """
    sid, m, hits = _delete(spark, path, predicate, prune, "main", rewrite=True)
    return {
        "snapshot_id": sid,
        "files_total": len(m["files"]),
        "files_candidates": hits.candidates,
        "files_rewritten": len(hits.touched),
        "rows_deleted": hits.rows,
    }


def incremental_read(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Rows added by snapshots in (from_snapshot, to_snapshot] — the
    change feed an incremental pipeline consumes instead of
    re-scanning the table. Walks the snapshot chain via parent ids;
    raises on an overwrite in the range (a replace is not expressible
    as an append-only delta)."""
    to_sid = current_snapshot_id(path) if to_snapshot is None else to_snapshot
    if to_sid is None or to_sid < from_snapshot:
        raise ValueError("empty or inverted snapshot range")
    added: list[str] = []
    sid = to_sid
    while sid is not None and sid > from_snapshot:
        m = _read_manifest_expired_ok(path, sid)
        if m is None:
            raise ValueError(
                f"snapshot {sid} in range ({from_snapshot}, {to_sid}] "
                "has been expired; the delta is unrecoverable"
            )
        if m.get("operation") != "append":
            raise ValueError(
                f"snapshot {sid} is {m.get('operation')!r}; incremental "
                "reads only traverse append snapshots"
            )
        added.extend(_data_path(path, p) for p in m.get("added", []))
        sid = m.get("parent_id")
    if not added:
        return read_snapshot(spark, path, to_sid).where("1 = 0")
    return spark.read.parquet(*added)


def compact_data_files(
    spark: SparkSession, path: str, target_files: int = 1
) -> int:
    """Iceberg's ``rewrite_data_files`` maintenance action: rewrite
    the current snapshot's (possibly many small) data files into
    ``target_files`` coalesced files and commit the rewrite as a
    REPLACE snapshot → new snapshot id.

    The logical table content is unchanged (same rows, same schema);
    only the physical layout differs — readers of the new snapshot
    scan fewer, larger files. Like an overwrite, a replace breaks the
    append-only change feed across it (incremental_read refuses to
    traverse it), and the superseded files stay readable for time
    travel until :func:`expire_snapshots`. Streaming-commit batch ids
    survive: the replace carries the parent's, so a compaction between
    micro-batches cannot make a replayed batch commit twice. Every
    rewritten file holds the table's full (merged) schema, which the
    replace records."""
    cur, m = _live_head(path)
    df = read_snapshot(spark, path, cur).coalesce(int(target_files))
    new = _write_data_files(df, path, m.get("stat_cols") or [])
    return _commit_next(
        path, "replace", base=(cur, m), keep=[], wrote=new,
        schema=df.schema.simpleString(),
    )


def zorder_data_files(
    spark: SparkSession,
    path: str,
    cols: list[str],
    target_files: int = 8,
    bits: int = 16,
) -> int:
    """Iceberg's ``rewrite_data_files(strategy => 'sort', sort_order
    => zorder(...))``: rewrite the current snapshot clustered on the
    Z-order (bit-interleaved) curve over ``cols``, so per-file
    min/max stats become tight in EVERY listed dimension at once and
    :func:`plan_files` multi-predicate pruning skips most files for a
    small N-dimensional box — the layout a spatial lakehouse needs
    (a sort on x alone leaves every file spanning all of y).

    Each column is quantized to ``bits`` levels between its global
    min/max (quantization only shapes the LAYOUT; row content is
    untouched), the z-value interleaves the quantized bits, and
    ``repartitionByRange`` over z gives ``target_files`` files each
    covering one contiguous z-range. Commits a ``replace`` snapshot
    whose manifest records the sort order and adds ``cols`` to the
    stat columns; batch ids carry forward like compaction.
    """
    from pyspark.sql import functions as F

    cur, m = _live_head(path)
    df = read_snapshot(spark, path, cur)
    ranges = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).first()
    n_levels = 1 << bits
    quant = []
    for c in cols:
        mn, mx = ranges[f"mn_{c}"], ranges[f"mx_{c}"]
        span = (mx - mn) if (mn is not None and mx is not None) else 0.0
        if not span:
            quant.append(F.lit(0).cast("long"))
            continue
        q = F.floor(
            (F.col(c).cast("double") - F.lit(float(mn)))
            / F.lit(float(span))
            * F.lit(float(n_levels))
        ).cast("long")
        quant.append(F.least(F.lit(n_levels - 1), F.greatest(F.lit(0), q)))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(quant):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(int(target_files), "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    stat_cols = sorted(set(m.get("stat_cols") or []) | set(cols))
    return _commit_next(
        path, "replace", base=(cur, m), keep=[],
        wrote=_write_data_files(clustered, path, stat_cols),
        schema=clustered.schema.simpleString(), stat_cols=stat_cols,
        sort_order={"kind": "zorder", "cols": list(cols), "bits": bits},
    )


def remove_orphan_files(path: str, older_than_s: float = 0.0) -> list[str]:
    """Iceberg's ``remove_orphan_files``: delete data files referenced
    by NO live snapshot — the debris a crash between the staging write
    and the ``current`` swap leaves behind (the failure
    test_crash_before_current_swap_is_invisible stages), plus the
    dot-prefixed temp files a writer that crashed mid-commit leaves in
    ``metadata/`` (``.snap.*``, ``.ptr.*``, ``.ref-*``, ``.tag-*``).
    Unlike :func:`expire_snapshots` this keeps EVERY snapshot
    readable: the referenced set is the union over the whole live
    parent chain, so time travel and incremental reads are unaffected.

    ``older_than_s`` guards racing in-flight writers: a staging dir
    that has been written but whose commit hasn't swapped yet looks
    orphan, so only files at least this old are removed (Iceberg's
    default retention for the same op is 3 days). Returns deleted
    paths relative to the table root. After the file pass, staging
    dirs left with no parquet (only _SUCCESS/.crc markers) are
    removed whole; dirs containing a ``_temporary`` in-flight marker
    are never touched."""
    referenced: set[str] = set()
    roots = [ref_head(path, r) for r in _all_refs(path)]
    roots.extend(list_tags(path).values())  # tags are GC roots too
    for sid in roots:
        while sid is not None:
            m = _read_manifest_expired_ok(path, sid)
            if m is None:
                break  # expired ancestors reference nothing live
            referenced.update(e["path"] for e in m["files"])
            # position-delete files are live references too: vacuuming
            # one would resurrect its deleted rows
            referenced.update(
                e["path"] for e in m.get("delete_files") or []
            )
            sid = m.get("parent_id")
    now = time.time()
    deleted: list[str] = []
    data_root = os.path.join(path, "data")
    subs = sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []
    for sub in subs:
        subdir = os.path.join(data_root, sub)
        if not os.path.isdir(subdir):
            continue
        entries = os.listdir(subdir)
        if "_temporary" in entries:
            continue  # write in flight
        for name in sorted(entries):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(subdir, name)
            rel = os.path.relpath(full, path)
            if rel in referenced:
                continue
            if now - os.path.getmtime(full) < older_than_s:
                continue
            os.remove(full)
            deleted.append(rel)
        left = os.listdir(subdir)
        if left and not any(n.endswith(".parquet") for n in left):
            shutil.rmtree(subdir, ignore_errors=True)
        elif not left:
            os.rmdir(subdir)
    md = _meta_dir(path)
    for name in sorted(os.listdir(md)) if os.path.isdir(md) else []:
        full = os.path.join(md, name)
        if name.startswith(".") and now - os.path.getmtime(full) >= older_than_s:
            os.remove(full)
            deleted.append(os.path.relpath(full, path))
    return deleted


def snapshot_diff(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int,
    key_cols: list[str],
) -> DataFrame:
    """Iceberg's changelog scan ``table_changes`` generalized to ANY
    pair of snapshots: the row-level diff (op ∈ insert/delete/update)
    between two table states, keyed by ``key_cols``.

    The manifest does the heavy lifting: data files are immutable, so
    a file listed by BOTH snapshots contributes no changes and is
    skipped without being read — only the symmetric difference of the
    two file lists is scanned and joined. After a MERGE that rewrote
    3 of 1000 files, the diff reads 3 + 3' files, not 2000; the join
    shuffles only those rows. Rows a rewrite merely MOVED between
    files (compaction, z-order) surface in both sides of the join
    with equal value hashes and drop out — a pure layout change
    yields an empty diff.

    Returns the TO-side values for inserts/updates and the FROM-side
    values for deletes, with ``op`` first. Keys are assumed unique
    per snapshot (enforce upstream; merge_into/delete_where preserve
    this)."""
    from pyspark.sql import functions as F

    ma = read_manifest(path, from_snapshot)
    mb = read_manifest(path, to_snapshot)
    pa = {e["path"] for e in ma["files"]}
    pb = {e["path"] for e in mb["files"]}
    # merge-on-read: a delete-mor snapshot changes NO data files, so
    # the file symmetric difference alone would miss its row deletes.
    # Common files addressed by a delete file present on only one
    # side must be scanned on both sides (each side then applies its
    # own delete set, and unchanged rows hash-cancel as usual).
    da = ma.get("delete_files") or []
    db = mb.get("delete_files") or []
    d_by = {e["path"]: e for e in da} | {e["path"]: e for e in db}
    changed_dels = {e["path"] for e in da} ^ {e["path"] for e in db}
    touched: set[str] = set()
    eq_min_seq: int | None = None
    for dp in sorted(changed_dels):
        if d_by[dp].get("kind") == "eq":
            # equality-delete files hold only the KEY column — there
            # is no file_path to map to touched files (an eq delete
            # shadows rows of EVERY data file whose commit seq
            # precedes its own). Conservatively re-scan all common
            # files that seq-qualify; each side applies its own
            # delete set and unchanged rows hash-cancel as usual.
            s = int(d_by[dp].get("seq") or 0)
            eq_min_seq = s if eq_min_seq is None else min(eq_min_seq, s)
            continue
        fps = pq.read_table(_data_path(path, dp), columns=["file_path"])
        touched |= {
            _rel_path(path, fp)
            for fp in fps.column("file_path").unique().to_pylist()
        }
    re_scan = touched & pa & pb
    if eq_min_seq is not None:
        # missing seq = pre-feature file = 0, shadowed by every eq
        # delete → re-scanned
        seq_of = {
            e["path"]: int(e.get("seq") or 0)
            for e in list(ma["files"]) + list(mb["files"])
        }
        re_scan |= {
            p for p in pa & pb if seq_of.get(p, 0) < eq_min_seq
        }
    only_a = sorted((pa - pb) | re_scan)
    only_b = sorted((pb - pa) | re_scan)
    schema_src = spark.read.parquet(_data_path(path, min(pa | pb))).schema

    def _side(paths, side_m):
        if not paths:
            return spark.createDataFrame([], schema_src)
        df = spark.read.parquet(*[_data_path(path, p) for p in paths])
        return _apply_delete_files(spark, df, path, side_m)

    A, B = _side(only_a, ma), _side(only_b, mb)
    val_cols = [c for c in A.columns if c not in key_cols]
    # one 128-bit value hash per row instead of N column comparisons:
    # the join carries (keys, hash, row-struct), not 2x the row width
    def _tag(df, side):
        return df.select(
            *key_cols,
            F.md5(F.to_json(F.struct(*val_cols))).alias(f"__h_{side}"),
            F.struct(*val_cols).alias(f"__v_{side}"),
        )

    j = _tag(A, "a").join(_tag(B, "b"), key_cols, "full_outer")
    op = (
        F.when(F.col("__h_a").isNull(), F.lit("insert"))
        .when(F.col("__h_b").isNull(), F.lit("delete"))
        .when(F.col("__h_a") != F.col("__h_b"), F.lit("update"))
    )
    picked = F.when(F.col("__h_b").isNull(), F.col("__v_a")).otherwise(
        F.col("__v_b")
    )
    return (
        j.withColumn("op", op)
        .where(F.col("op").isNotNull())
        .select(
            "op",
            *key_cols,
            *[picked[c].alias(c) for c in val_cols],
        )
    )


def expire_snapshots(path: str, keep_last: int = 1) -> list[str]:
    """Drop all but the last ``keep_last`` snapshots and delete data
    files no kept snapshot references → list of deleted files.
    Metadata-only planning; deletion is the only mutation and happens
    strictly after the kept set is computed."""
    cur = current_snapshot_id(path)
    if cur is None:
        return []
    keep_ids = []
    sid: int | None = cur
    while sid is not None and len(keep_ids) < keep_last:
        m = _read_manifest_expired_ok(path, sid)
        if m is None:
            break  # a previous expire already cut the chain here
        keep_ids.append(sid)
        sid = m.get("parent_id")
    # live branches AND tags are roots: their whole chains stay
    # readable (a tag is the release-pinning contract — see
    # :func:`create_tag`)
    roots = [
        ref_head(path, r) for r in _all_refs(path) if r != "main"
    ]
    roots.extend(list_tags(path).values())
    for sid in roots:
        while sid is not None and sid not in keep_ids:
            m = _read_manifest_expired_ok(path, sid)
            if m is None:
                break
            keep_ids.append(sid)
            sid = m.get("parent_id")
    referenced = set()
    for k in keep_ids:
        km = read_manifest(path, k)
        referenced.update(e["path"] for e in km["files"])
        referenced.update(e["path"] for e in km.get("delete_files") or [])
    deleted = []
    data_root = os.path.join(path, "data")
    for sub in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        subdir = os.path.join(data_root, sub)
        for name in sorted(os.listdir(subdir)):
            rel = os.path.relpath(os.path.join(subdir, name), path)
            if name.endswith(".parquet") and rel not in referenced:
                os.remove(os.path.join(subdir, name))
                deleted.append(rel)
    for name in sorted(os.listdir(_meta_dir(path))):
        if name.startswith("snap-"):
            sid2 = int(name[5:-5])
            if sid2 not in keep_ids:
                os.remove(os.path.join(_meta_dir(path), name))
    return deleted
