"""Snapshot table format (io/tableformat.py): append/overwrite
commits, time travel, incremental change feeds, stats-based file
pruning, optimistic-concurrency conflicts, crash safety, expiry."""

import json
import os

import pytest
from pyspark.sql import functions as F

from kblock_spark.io.tableformat import (
    CommitConflict,
    append_snapshot,
    current_snapshot_id,
    expire_snapshots,
    incremental_read,
    overwrite_snapshot,
    plan_files,
    read_manifest,
    read_snapshot,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7 % 100).alias("v")
    )


def test_append_time_travel_and_incremental(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = append_snapshot(_df(spark, 0, 100), t, stat_cols=["doc_id"])
    s2 = append_snapshot(_df(spark, 100, 250), t)
    assert (s1, s2) == (1, 2)
    assert current_snapshot_id(t) == 2
    assert read_snapshot(spark, t).count() == 250
    # time travel
    assert read_snapshot(spark, t, snapshot_id=1).count() == 100
    # change feed (1, 2]: exactly the second append
    inc = incremental_read(spark, t, from_snapshot=1)
    assert sorted(r["doc_id"] for r in inc.collect()) == list(range(100, 250))
    # empty range
    assert incremental_read(spark, t, from_snapshot=2).count() == 0


def test_overwrite_replaces_and_blocks_incremental(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 50), t)
    overwrite_snapshot(_df(spark, 1000, 1010), t)
    assert read_snapshot(spark, t).count() == 10
    # old snapshot still readable until expiry
    assert read_snapshot(spark, t, snapshot_id=1).count() == 50
    with pytest.raises(ValueError, match="overwrite"):
        incremental_read(spark, t, from_snapshot=1)


def test_stats_pruning_skips_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    # range-partitioned writes give files with disjoint doc_id ranges
    df = _df(spark, 0, 10000).repartitionByRange(8, "doc_id")
    append_snapshot(df, t, stat_cols=["doc_id"])
    full = plan_files(t)
    pruned = plan_files(t, prune=("doc_id", 100, 200))
    assert len(pruned) < len(full)
    got = read_snapshot(spark, t, prune=("doc_id", 100, 200)).where(
        "doc_id BETWEEN 100 AND 200"
    )
    assert got.count() == 101
    # pruning never loses rows vs the unpruned read
    ref = read_snapshot(spark, t).where("doc_id BETWEEN 100 AND 200")
    assert got.count() == ref.count()
    # empty plan keeps the schema
    empty = read_snapshot(spark, t, prune=("doc_id", 10**9, 10**9 + 1))
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "v"]


def test_commit_conflict_on_concurrent_writer(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t)
    # writer A plans against snapshot 1; writer B commits first
    from kblock_spark.io import tableformat as tf

    new = tf._write_data_files(_df(spark, 10, 20), t, [])
    append_snapshot(_df(spark, 100, 120), t)  # B wins
    with pytest.raises(CommitConflict):
        tf._commit(
            t,
            {"operation": "append", "schema": "", "stat_cols": [],
             "files": new, "added": [e["path"] for e in new]},
            expected_parent=1,
        )
    # table is B's state, untouched by the failed commit
    assert read_snapshot(spark, t).count() == 30


def test_crash_before_current_swap_is_invisible(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t)
    # simulate a writer that wrote data + manifest but died before the
    # swap: manifest file exists, current still points at snapshot 1
    from kblock_spark.io import tableformat as tf

    new = tf._write_data_files(_df(spark, 10, 20), t, [])
    m = {"operation": "append", "schema": "", "stat_cols": [],
         "files": new, "added": [e["path"] for e in new],
         "snapshot_id": 2, "parent_id": 1, "ts": 0}
    with open(tf._snap_path(t, 2), "w") as f:
        json.dump(m, f)
    assert current_snapshot_id(t) == 1
    assert read_snapshot(spark, t).count() == 10
    # the next real commit supersedes the orphan manifest
    os.remove(tf._snap_path(t, 2))
    append_snapshot(_df(spark, 50, 55), t)
    assert read_snapshot(spark, t).count() == 15


def test_expire_deletes_unreferenced_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 50), t)
    overwrite_snapshot(_df(spark, 100, 110), t)
    before = read_snapshot(spark, t).count()
    deleted = expire_snapshots(t, keep_last=1)
    assert deleted  # snapshot 1's files are gone
    assert read_snapshot(spark, t).count() == before
    with pytest.raises(FileNotFoundError):
        read_manifest(t, 1)


def test_pages_table_north_rule_shape(spark, tmp_path):
    # the north rule's input table: Common-Crawl-style web pages in a
    # snapshot table, appended in crawls, consumed incrementally
    from kblock_spark.io.synth import synth_pages_spark

    t = str(tmp_path / "pages")
    append_snapshot(synth_pages_spark(spark, 200, 4), t, stat_cols=["url"])
    s2 = append_snapshot(synth_pages_spark(spark, 300, 4), t)
    tbl = read_snapshot(spark, t)
    assert [f.name for f in tbl.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"
    ]
    assert tbl.count() == 500
    inc = incremental_read(spark, t, from_snapshot=1, to_snapshot=s2)
    assert inc.count() == 300


def test_streaming_sink_exactly_once_on_replay(spark, tmp_path):
    from kblock_spark.io.tableformat import (
        last_committed_batch,
        streaming_table_sink,
    )

    t = str(tmp_path / "tbl")
    sink = streaming_table_sink(t)
    sink(_df(spark, 0, 40), 0)
    sink(_df(spark, 40, 70), 1)
    # at-least-once replay of batch 1 after a simulated failure: the
    # manifest's batch-id dedupe must make it a no-op
    sink(_df(spark, 40, 70), 1)
    assert read_snapshot(spark, t).count() == 70
    assert current_snapshot_id(t) == 2
    assert last_committed_batch(t) == 1
    # a genuinely new batch still commits
    sink(_df(spark, 70, 75), 2)
    assert read_snapshot(spark, t).count() == 75


def test_streaming_sink_end_to_end(spark, tmp_path):
    from kblock_spark.io.tableformat import streaming_table_sink

    src = str(tmp_path / "src")
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _df(spark, 0, 60).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, v long").parquet(src)
    q = (
        stream.writeStream.foreachBatch(streaming_table_sink(t))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert read_snapshot(spark, t).count() == 60
    # second trigger with new source data appends exactly the delta
    _df(spark, 60, 90).write.mode("append").parquet(src)
    before = current_snapshot_id(t)
    q2 = (
        spark.readStream.schema("doc_id long, v long")
        .parquet(src)
        .writeStream.foreachBatch(streaming_table_sink(t))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert read_snapshot(spark, t).count() == 90
    inc = incremental_read(spark, t, from_snapshot=before)
    assert sorted(r["doc_id"] for r in inc.collect()) == list(range(60, 90))


def test_spark_submit_commits_snapshot(spark, tmp_path):
    # the north rule's deployment path end-to-end: the spark-submit
    # entry point committing its output as a snapshot-table append
    import json as _json
    import subprocess
    import sys

    t = str(tmp_path / "ktbl")
    out = subprocess.run(
        [
            sys.executable, "spark_submit_job.py",
            "--pages", "2000", "--nx", "2", "--ny", "2", "--grid", "3",
            "--master", "local[4]", "--table", t,
        ],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    res = _json.loads(line)
    assert res["snapshot_id"] == 1 and res["blocks"] > 0, out.stderr[-500:]
    tbl = read_snapshot(spark, t)
    assert tbl.count() == res["blocks"]
    assert "k_complexity" in tbl.columns


def test_schema_evolution_add_column(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 30), t)
    evolved = _df(spark, 30, 50).withColumn(
        "quality", (F.col("doc_id") % 5).cast("double")
    )
    append_snapshot(evolved, t)
    tbl = read_snapshot(spark, t)
    assert set(tbl.columns) == {"doc_id", "v", "quality"}
    got = {r["doc_id"]: r["quality"] for r in tbl.collect()}
    assert got[10] is None  # old files surface the new column as NULL
    assert got[40] == 40 % 5
    # time travel to the pre-evolution snapshot keeps the old schema
    assert set(read_snapshot(spark, t, snapshot_id=1).columns) == {"doc_id", "v"}


def test_compact_data_files_rewrites_layout_only(spark, tmp_path):
    from kblock_spark.io.tableformat import (
        compact_data_files,
        last_committed_batch,
        plan_files,
        streaming_table_sink,
    )

    t = str(tmp_path / "tbl")
    sink = streaming_table_sink(t)
    sink(_df(spark, 0, 60).repartition(6), 0)
    sink(_df(spark, 60, 100).repartition(6), 1)
    before_files = plan_files(t)
    assert len(before_files) >= 8
    pre = current_snapshot_id(t)
    sid = compact_data_files(spark, t, target_files=1)
    assert len(plan_files(t)) == 1
    tbl = read_snapshot(spark, t)
    assert tbl.count() == 100
    assert sorted(r["doc_id"] for r in tbl.collect()) == list(range(100))
    # time travel to the pre-compaction layout still works
    assert read_snapshot(spark, t, snapshot_id=pre).count() == 100
    # the change feed refuses to traverse a replace
    with pytest.raises(ValueError, match="replace"):
        incremental_read(spark, t, from_snapshot=1)
    # streaming batch-id dedupe survives compaction: replaying batch 1
    # after the rewrite is still a no-op
    assert last_committed_batch(t) == 1
    sink(_df(spark, 60, 100), 1)
    assert current_snapshot_id(t) == sid
    assert read_snapshot(spark, t).count() == 100


def test_compaction_records_the_schema_it_wrote(spark, tmp_path):
    """Append (doc_id, v, c), append (doc_id, v), compact, append
    (doc_id, v): column c keeps its 4 values. The compaction wrote
    every file with c, so it must record that schema, not the head's
    narrower one, or the next append is not marked evolved and reads
    drop c."""
    from kblock_spark.io.tableformat import compact_data_files

    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 4).withColumn("c", F.col("doc_id") + 100), t)
    append_snapshot(_df(spark, 4, 8), t)
    compact_data_files(spark, t)
    append_snapshot(_df(spark, 8, 12), t)
    tbl = read_snapshot(spark, t)
    assert "c" in tbl.columns
    got = {r["doc_id"]: r["c"] for r in tbl.collect()}
    assert got == {k: k + 100 if k < 4 else None for k in range(12)}


@pytest.mark.parametrize("op", ["append", "overwrite"])
def test_stream_batch_survives_later_commit_and_expiry(spark, tmp_path, op):
    """A commit after streaming batch 5 carries the batch id, so after
    the tagged snapshot expires batch 5 is still committed and its
    replay does not commit again."""
    from kblock_spark.io.tableformat import (
        last_committed_batch,
        streaming_table_sink,
    )

    t = str(tmp_path / "tbl")
    sink = streaming_table_sink(t)
    sink(_df(spark, 0, 10), 5)
    commit = append_snapshot if op == "append" else overwrite_snapshot
    commit(_df(spark, 10, 20), t)
    expire_snapshots(t, keep_last=1)
    assert last_committed_batch(t) == 5
    head, rows = current_snapshot_id(t), read_snapshot(spark, t).count()
    sink(_df(spark, 0, 10), 5)  # replayed batch 5
    assert current_snapshot_id(t) == head
    assert read_snapshot(spark, t).count() == rows


def test_expire_keeps_requested_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 20), t)
    append_snapshot(_df(spark, 20, 40), t)
    append_snapshot(_df(spark, 40, 50), t)
    deleted = expire_snapshots(t, keep_last=2)
    # append-only chain: every file is still referenced by the kept
    # snapshots, so nothing is deleted — but snapshot 1's manifest is
    assert deleted == []
    assert read_snapshot(spark, t, snapshot_id=2).count() == 40
    with pytest.raises(FileNotFoundError):
        read_manifest(t, 1)
    assert read_snapshot(spark, t).count() == 50


def _range_table(spark, t, n=200, files=4):
    """Base table written as `files` range-disjoint data files with
    doc_id min/max stats — the layout MERGE's pruning exploits."""
    df = _df(spark, 0, n).repartitionByRange(files, "doc_id")
    overwrite_snapshot(df, t, stat_cols=["doc_id"])


def _table_path(tmp_path, monkeypatch, where):
    """``tbl`` under tmp_path, named absolutely or relative to a
    working directory of tmp_path (the JVM keeps its own)."""
    if where == "absolute":
        return str(tmp_path / "tbl")
    monkeypatch.chdir(tmp_path)
    return "tbl"


@pytest.mark.parametrize("where", ["absolute", "relative"])
def test_merge_upserts_and_rewrites_only_matched_files(
    spark, tmp_path, monkeypatch, where
):
    from kblock_spark.io.tableformat import merge_into

    t = _table_path(tmp_path, monkeypatch, where)
    _range_table(spark, t)
    pre = current_snapshot_id(t)
    n_files = len(plan_files(t))
    # updates touch only the low key range, plus pure inserts far
    # beyond every file's max
    upd = spark.range(0, 30, 3).select(
        F.col("id").alias("doc_id"), F.lit(-1).cast("long").alias("v")
    ).unionByName(
        spark.range(10_000, 10_005).select(
            F.col("id").alias("doc_id"), F.lit(-2).cast("long").alias("v")
        )
    )
    stats = merge_into(spark, t, upd, "doc_id")
    # copy-on-write wrote back only files actually holding matched keys
    assert stats["files_total"] == n_files
    assert 1 <= stats["files_rewritten"] < n_files
    assert stats["files_candidates"] <= n_files
    got = read_snapshot(spark, t)
    assert got.count() == 200 + 5
    rows = {r["doc_id"]: r["v"] for r in got.collect()}
    for k in range(0, 30, 3):
        assert rows[k] == -1          # updated in place
    for k in range(10_000, 10_005):
        assert rows[k] == -2          # inserted
    assert rows[1] == 7 % 100         # untouched key keeps its value
    # time travel: pre-merge snapshot still reads the original rows
    old = {r["doc_id"]: r["v"] for r in read_snapshot(spark, t, pre).collect()}
    assert old[0] == 0 and 10_000 not in old
    # a merge is not an append: the change feed refuses to cross it
    with pytest.raises(ValueError):
        incremental_read(spark, t, from_snapshot=pre)


def test_merge_no_matches_is_insert_only(spark, tmp_path):
    from kblock_spark.io.tableformat import merge_into

    t = str(tmp_path / "tbl")
    _range_table(spark, t, n=100, files=2)
    upd = spark.range(500, 510).select(
        F.col("id").alias("doc_id"), F.lit(9).cast("long").alias("v")
    )
    stats = merge_into(spark, t, upd, "doc_id")
    assert stats["files_rewritten"] == 0
    assert read_snapshot(spark, t).count() == 110


def test_merge_overlapping_stats_but_no_matched_key(spark, tmp_path):
    """Candidate files (stats overlap) with no ACTUAL matched key are
    kept verbatim — the exact match scan bounds write amplification."""
    from kblock_spark.io.tableformat import merge_into

    t = str(tmp_path / "tbl")
    # one file holds even ids only, stats [0, 98]
    df = spark.range(0, 100, 2).select(
        F.col("id").alias("doc_id"), F.lit(0).cast("long").alias("v")
    ).coalesce(1)
    overwrite_snapshot(df, t, stat_cols=["doc_id"])
    paths_before = plan_files(t)
    upd = spark.createDataFrame(
        [(51, 1)], "doc_id long, v long"
    )  # odd key: inside [0, 98] but absent
    stats = merge_into(spark, t, upd, "doc_id")
    assert stats["files_candidates"] == 1 and stats["files_rewritten"] == 0
    # the original file survives in the new manifest untouched
    assert set(paths_before) <= set(plan_files(t))
    assert read_snapshot(spark, t).count() == 51


def test_merge_preserves_streaming_batch_id(spark, tmp_path):
    from kblock_spark.io.tableformat import (
        last_committed_batch,
        merge_into,
        streaming_table_sink,
    )

    t = str(tmp_path / "tbl")
    sink = streaming_table_sink(t, stat_cols=["doc_id"])
    sink(_df(spark, 0, 50), 0)
    sink(_df(spark, 50, 80), 1)
    upd = spark.range(0, 5).select(
        F.col("id").alias("doc_id"), F.lit(-1).cast("long").alias("v")
    )
    merge_into(spark, t, upd, "doc_id")
    assert last_committed_batch(t) == 1
    # a replayed micro-batch after the merge is still a no-op
    sid = current_snapshot_id(t)
    sink(_df(spark, 50, 80), 1)
    assert current_snapshot_id(t) == sid


@pytest.mark.parametrize("where", ["absolute", "relative"])
def test_delete_where_rewrites_only_matching_files(
    spark, tmp_path, monkeypatch, where
):
    from kblock_spark.io.tableformat import delete_where

    t = _table_path(tmp_path, monkeypatch, where)
    _range_table(spark, t)          # 200 rows, 4 range-disjoint files
    pre = current_snapshot_id(t)
    n_files = len(plan_files(t))
    stats = delete_where(
        spark, t, "doc_id < 40", prune=("doc_id", 0, 39)
    )
    assert stats["rows_deleted"] == 40
    assert stats["files_total"] == n_files
    # pruning kept the files whose [min,max] sits entirely above 39
    assert stats["files_candidates"] < n_files
    assert 1 <= stats["files_rewritten"] <= stats["files_candidates"]
    got = read_snapshot(spark, t)
    assert got.count() == 160
    assert got.agg(F.min("doc_id")).first()[0] == 40
    # untouched rows keep their values; time travel sees the originals
    assert read_snapshot(spark, t, pre).count() == 200
    with pytest.raises(ValueError):
        incremental_read(spark, t, from_snapshot=pre)


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate is NULL are
    kept, not deleted."""
    from kblock_spark.io.tableformat import delete_where

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 50)], "doc_id long, v long"
    ).coalesce(1)
    overwrite_snapshot(df, t, stat_cols=["doc_id"])
    stats = delete_where(spark, t, "v < 10")
    assert stats["rows_deleted"] == 1
    rows = {r["doc_id"] for r in read_snapshot(spark, t).collect()}
    assert rows == {2, 3}           # NULL-predicate row survives


def test_delete_where_no_match_is_metadata_only(spark, tmp_path):
    from kblock_spark.io.tableformat import delete_where

    t = str(tmp_path / "tbl")
    _range_table(spark, t, n=100, files=2)
    before = set(plan_files(t))
    stats = delete_where(
        spark, t, "doc_id > 10000", prune=("doc_id", 10001, 10**12)
    )
    assert stats["files_rewritten"] == 0 and stats["rows_deleted"] == 0
    assert set(plan_files(t)) == before
    assert read_snapshot(spark, t).count() == 100


def test_delete_where_preserves_streaming_batch_id(spark, tmp_path):
    from kblock_spark.io.tableformat import (
        delete_where,
        last_committed_batch,
        streaming_table_sink,
    )

    t = str(tmp_path / "tbl")
    sink = streaming_table_sink(t, stat_cols=["doc_id"])
    sink(_df(spark, 0, 50), 0)
    sink(_df(spark, 50, 80), 1)
    delete_where(spark, t, "doc_id < 10")
    assert last_committed_batch(t) == 1
    sid = current_snapshot_id(t)
    sink(_df(spark, 50, 80), 1)     # replay after delete: still no-op
    assert current_snapshot_id(t) == sid
    assert read_snapshot(spark, t).count() == 70


@pytest.mark.parametrize("op", ["merge_into", "delete_where"])
def test_cow_dml_lost_commit_changes_nothing(spark, tmp_path, monkeypatch, op):
    """A copy-on-write MERGE or DELETE whose commit is lost re-raises
    and leaves the table as it was: same head, manifest and rows, and
    everything it staged is an orphan remove_orphan_files reclaims."""
    from kblock_spark.io import tableformat as tf

    t = str(tmp_path / "tbl")
    _range_table(spark, t)
    # a live position delete: the rewrite applies it with the staged one
    tf.delete_where_mor(spark, t, "doc_id = 1")
    head = current_snapshot_id(t)
    manifest = read_manifest(t)
    rows = sorted(map(tuple, read_snapshot(spark, t).collect()))

    def lost_commit(path, manifest, expected_parent, ref="main"):
        raise CommitConflict("simulated lost race")

    monkeypatch.setattr(tf, "_commit", lost_commit)
    with pytest.raises(CommitConflict):
        if op == "merge_into":
            upd = spark.range(0, 30, 3).select(
                F.col("id").alias("doc_id"), F.lit(-1).alias("v")
            )
            tf.merge_into(spark, t, upd, "doc_id")
        else:
            tf.delete_where(spark, t, "doc_id < 40")
    assert current_snapshot_id(t) == head
    assert read_manifest(t) == manifest
    assert sorted(map(tuple, read_snapshot(spark, t).collect())) == rows
    tf.remove_orphan_files(t)
    referenced = {
        e["path"] for e in manifest["files"] + manifest["delete_files"]
    }
    data = os.path.join(t, "data")
    on_disk = {
        os.path.relpath(os.path.join(root, n), t)
        for root, _, names in os.walk(data)
        for n in names
        if n.endswith(".parquet")
    }
    assert on_disk == referenced
    # no staging dir outlives the reclaim either
    assert set(os.listdir(data)) == {p.split(os.sep)[1] for p in referenced}


def test_zorder_clustering_enables_multi_dim_pruning(spark, tmp_path):
    from kblock_spark.io.tableformat import zorder_data_files

    t = str(tmp_path / "tbl")
    # 64x64 grid range-partitioned on y alone: every file spans ALL
    # of x, so an x-range prunes nothing
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        F.expr("id DIV 64").alias("y"),
        F.col("id").alias("v"),
    )
    overwrite_snapshot(df.repartitionByRange(16, "y"), t, stat_cols=["x", "y"])
    x_stripe = [("x", 0, 7)]
    assert len(plan_files(t, prune=x_stripe)) == 16     # no help
    pre = current_snapshot_id(t)
    sid = zorder_data_files(spark, t, ["x", "y"], target_files=16, bits=6)
    assert sid == pre + 1
    # the z-curve layout makes the SAME stripe prunable
    assert len(plan_files(t, prune=x_stripe)) <= 8
    box = [("x", 0, 7), ("y", 0, 7)]
    assert len(plan_files(t, prune=box)) <= 2
    # content untouched; pruned read is exact (no false negatives)
    got = read_snapshot(spark, t, prune=box).where(
        "x BETWEEN 0 AND 7 AND y BETWEEN 0 AND 7"
    )
    assert got.count() == 64
    assert read_snapshot(spark, t).count() == 4096
    assert {r["v"] for r in got.collect()} == {
        yy * 64 + xx for xx in range(8) for yy in range(8)
    }
    m = read_manifest(t)
    assert m["sort_order"] == {"kind": "zorder", "cols": ["x", "y"], "bits": 6}
    # a z-order rewrite is a replace: change feed refuses to cross it
    with pytest.raises(ValueError):
        incremental_read(spark, t, from_snapshot=pre)


@pytest.mark.parametrize("temp", [".current.", ".snap.", ".ptr."])
def test_remove_orphan_files(spark, tmp_path, temp):
    from kblock_spark.io.tableformat import remove_orphan_files
    from kblock_spark.io import tableformat as tf

    t = str(tmp_path / "tbl")
    s1 = append_snapshot(_df(spark, 0, 30), t)
    s2 = append_snapshot(_df(spark, 30, 70), t)
    # stage a crashed writer: data files written, commit never swapped
    tf._write_data_files(_df(spark, 70, 99), t, [])
    # and a stale commit temp file (a manifest or pointer temp is what
    # a writer that crashed inside _commit leaves)
    stale = os.path.join(tf._meta_dir(t), f"{temp}deadbeef")
    with open(stale, "w") as f:
        f.write("9")
    n_parquet = sum(
        1 for _, _, fs in os.walk(os.path.join(t, "data"))
        for n in fs if n.endswith(".parquet")
    )
    # retention guard: everything is younger than 1h -> no-op
    assert remove_orphan_files(t, older_than_s=3600) == []
    deleted = remove_orphan_files(t)
    assert any(d.endswith(".parquet") for d in deleted)
    assert any(temp in d for d in deleted)
    n_after = sum(
        1 for _, _, fs in os.walk(os.path.join(t, "data"))
        for n in fs if n.endswith(".parquet")
    )
    assert n_after < n_parquet
    # every snapshot still fully readable (unlike expire_snapshots)
    assert read_snapshot(spark, t, s1).count() == 30
    assert read_snapshot(spark, t, s2).count() == 70
    assert current_snapshot_id(t) == s2
    # idempotent
    assert remove_orphan_files(t) == []


def test_rollback_restores_content_as_new_commit(spark, tmp_path):
    from kblock_spark.io.tableformat import rollback_to

    t = str(tmp_path / "tbl")
    s1 = append_snapshot(_df(spark, 0, 50), t)
    s2 = append_snapshot(_df(spark, 50, 120), t)
    s3 = rollback_to(t, s1)
    assert s3 == s2 + 1  # a NEW commit, not a pointer rewind
    assert current_snapshot_id(t) == s3
    assert read_snapshot(spark, t).count() == 50
    # the mistake stays time-travelable until expiry
    assert read_snapshot(spark, t, s2).count() == 120
    m = read_manifest(t, s3)
    assert m["operation"] == "rollback" and m["rollback_of"] == s1
    assert m["parent_id"] == s2
    # appends continue from the restored state
    append_snapshot(_df(spark, 200, 210), t)
    assert read_snapshot(spark, t).count() == 60
    # rollback to current is a no-op; to a non-ancestor raises
    assert rollback_to(t, current_snapshot_id(t)) == current_snapshot_id(t)
    with pytest.raises(ValueError):
        rollback_to(t, 999)
    # not an append: the change feed refuses to cross it
    with pytest.raises(ValueError):
        incremental_read(spark, t, from_snapshot=s1)


def test_rollback_readmits_undone_stream_batches(spark, tmp_path):
    """Undoing a micro-batch must also roll the batch watermark back,
    or the exactly-once dedupe would silently skip the replay."""
    from kblock_spark.io.tableformat import (
        last_committed_batch,
        rollback_to,
        streaming_table_sink,
    )

    t = str(tmp_path / "tbl")
    sink = streaming_table_sink(t)
    sink(_df(spark, 0, 10), 0)
    pre = current_snapshot_id(t)
    sink(_df(spark, 10, 30), 1)
    assert last_committed_batch(t) == 1
    rollback_to(t, pre)
    assert last_committed_batch(t) == 0
    # replay of the undone batch 1 recommits (a duplicate of batch 0
    # would still be skipped)
    sink(_df(spark, 0, 10), 0)
    assert read_snapshot(spark, t).count() == 10
    sink(_df(spark, 10, 30), 1)
    assert read_snapshot(spark, t).count() == 30


def test_rollback_past_all_stream_batches(spark, tmp_path):
    """Rolling back to a pre-streaming snapshot resets the watermark
    to 'none committed' (the -1 sentinel), so batch 0 itself replays."""
    from kblock_spark.io.tableformat import (
        last_committed_batch,
        rollback_to,
        streaming_table_sink,
    )

    t = str(tmp_path / "tbl")
    base = append_snapshot(_df(spark, 0, 5), t)
    sink = streaming_table_sink(t)
    sink(_df(spark, 5, 15), 0)
    rollback_to(t, base)
    assert last_committed_batch(t) == -1
    sink(_df(spark, 5, 15), 0)
    assert read_snapshot(spark, t).count() == 15


def test_snapshot_diff_ops_and_file_skip(spark, tmp_path):
    from kblock_spark.io.tableformat import merge_into, snapshot_diff

    t = str(tmp_path / "tbl")
    s1 = append_snapshot(
        _df(spark, 0, 100).repartitionByRange(4, "doc_id"), t,
        stat_cols=["doc_id"],
    )
    upd = spark.range(0, 25, 10).select(  # touches ONE of 4 range files
        F.col("id").alias("doc_id"), F.lit(-1).alias("v")
    )
    ins = spark.range(500, 505).select(
        F.col("id").alias("doc_id"), F.lit(7).alias("v")
    )
    s2 = merge_into(spark, t, upd.unionByName(ins), key_col="doc_id")[
        "snapshot_id"
    ]
    d = snapshot_diff(spark, t, s1, s2, key_cols=["doc_id"])
    got = {(r["op"], r["doc_id"], r["v"]) for r in d.collect()}
    expect = {("update", i, -1) for i in range(0, 25, 10)} | {
        ("insert", i, 7) for i in range(500, 505)
    }
    assert got == expect
    # HARD skip proof: delete a file common to both snapshots from
    # disk — the diff must not even open it (merge left untouched
    # range files shared between s1 and s2)
    m1 = {e["path"] for e in read_manifest(t, s1)["files"]}
    m2 = {e["path"] for e in read_manifest(t, s2)["files"]}
    common = sorted(m1 & m2)
    assert common, "fixture must leave untouched files"
    os.rename(os.path.join(t, common[0]), os.path.join(t, common[0]) + ".gone")
    d2 = snapshot_diff(spark, t, s1, s2, key_cols=["doc_id"])
    assert {(r["op"], r["doc_id"], r["v"]) for r in d2.collect()} == expect
    os.rename(os.path.join(t, common[0]) + ".gone", os.path.join(t, common[0]))


def test_snapshot_diff_pure_layout_change_is_empty(spark, tmp_path):
    """Compaction rewrites every file (zero common paths) but moves
    rows unchanged: the value-hash join must cancel them all out."""
    from kblock_spark.io.tableformat import compact_data_files, snapshot_diff

    t = str(tmp_path / "tbl")
    s1 = append_snapshot(_df(spark, 0, 60).repartition(6), t)
    s2 = compact_data_files(spark, t, target_files=1)
    assert snapshot_diff(spark, t, s1, s2, key_cols=["doc_id"]).count() == 0


def test_snapshot_diff_delete_side(spark, tmp_path):
    from kblock_spark.io.tableformat import delete_where, snapshot_diff

    t = str(tmp_path / "tbl")
    s1 = append_snapshot(_df(spark, 0, 40), t)
    s2 = delete_where(spark, t, "doc_id % 8 = 3")["snapshot_id"]
    d = snapshot_diff(spark, t, s1, s2, key_cols=["doc_id"])
    got = {(r["op"], r["doc_id"]) for r in d.collect()}
    assert got == {("delete", i) for i in range(40) if i % 8 == 3}
    # delete rows carry the FROM-side values
    vals = {r["doc_id"]: r["v"] for r in d.collect()}
    assert all(vals[i] == i * 7 % 100 for i in vals)


def test_append_retries_metadata_only_on_lost_race(spark, tmp_path, monkeypatch):
    """Writer A loses the commit race to B: A's data files must NOT be
    rewritten — only the metadata commit re-bases onto B's head and
    retries (Iceberg's commit.retry discipline). With retries
    disabled the conflict surfaces."""
    from kblock_spark.io import tableformat as tf

    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t)

    orig_commit = tf._commit
    state = {"raced": False}

    def racy_commit(path, manifest, expected_parent, ref="main"):
        if not state["raced"] and expected_parent == 1:
            state["raced"] = True
            # a competing writer (B) lands between A's plan and A's
            # swap; B's own commit passes through (raced already set)
            tf.append_snapshot(_df(spark, 500, 520), path)
        return orig_commit(path, manifest, expected_parent, ref=ref)

    monkeypatch.setattr(tf, "_commit", racy_commit)
    n_files_before = sum(
        1 for _, _, fs in os.walk(os.path.join(t, "data"))
        for n in fs if n.endswith(".parquet")
    )
    sid = tf.append_snapshot(_df(spark, 10, 30), t)
    monkeypatch.setattr(tf, "_commit", orig_commit)
    assert state["raced"]
    assert sid == 3  # B took 2; A re-based and landed as 3
    assert read_snapshot(spark, t).count() == 10 + 20 + 20
    # A's staged files were reused, not rewritten: exactly the files
    # of B's append plus A's ONE staging dir were added
    m3 = read_manifest(t, 3)
    n_files_after = sum(
        1 for _, _, fs in os.walk(os.path.join(t, "data"))
        for n in fs if n.endswith(".parquet")
    )
    n_added_by_both = n_files_after - n_files_before
    assert len(m3["added"]) + len(read_manifest(t, 2)["added"]) == n_added_by_both
    # fail-fast mode still raises
    def always_racy(path, manifest, expected_parent, ref="main"):
        raise CommitConflict("simulated")

    monkeypatch.setattr(tf, "_commit", always_racy)
    with pytest.raises(CommitConflict):
        tf.append_snapshot(_df(spark, 30, 40), t, commit_retries=0)


def test_lost_race_never_clobbers_winner_manifest(spark, tmp_path):
    """THE commit race the O_EXCL claim closes: writer B (winner) has
    written its manifest but not yet swapped ``current``; writer A
    (loser) passed its entry check in that window. A must conflict
    WITHOUT touching B's manifest — before the fix A overwrote it and
    a retry re-based on A's own clobbered copy, dropping B's files."""
    from kblock_spark.io import tableformat as tf

    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t)
    # winner B mid-commit: manifest for sid 2 written, current still 1
    b_files = tf._write_data_files(_df(spark, 100, 130), t, [])
    b_manifest = {
        "operation": "append", "schema": "", "stat_cols": [],
        "files": read_manifest(t, 1)["files"] + b_files,
        "added": [e["path"] for e in b_files],
        "snapshot_id": 2, "parent_id": 1, "ts": 0,
    }
    with open(tf._snap_path(t, 2), "w") as f:
        json.dump(b_manifest, f)
    winner_bytes = open(tf._snap_path(t, 2), "rb").read()
    # loser A: entry check passes (current == 1), claim must fail
    a_files = tf._write_data_files(_df(spark, 10, 20), t, [])
    with pytest.raises(CommitConflict):
        tf._commit(
            t,
            {"operation": "append", "schema": "", "stat_cols": [],
             "files": a_files, "added": [e["path"] for e in a_files]},
            expected_parent=1,
        )
    assert open(tf._snap_path(t, 2), "rb").read() == winner_bytes
    # winner completes its swap; its 30 rows are all present
    with open(os.path.join(t, "metadata", "current"), "w") as f:
        f.write("2")
    assert read_snapshot(spark, t).count() == 40


def test_stale_claim_is_broken(spark, tmp_path):
    """A crashed writer's claim (manifest written, swap never
    happened, older than _STALE_CLAIM_S) must not wedge the table."""
    from kblock_spark.io import tableformat as tf

    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t)
    debris = {"operation": "append", "schema": "", "stat_cols": [],
              "files": [], "added": [], "snapshot_id": 2,
              "parent_id": 1, "ts": 0}
    with open(tf._snap_path(t, 2), "w") as f:
        json.dump(debris, f)
    old = __import__("time").time() - tf._STALE_CLAIM_S - 60
    os.utime(tf._snap_path(t, 2), (old, old))
    sid = append_snapshot(_df(spark, 10, 25), t)
    assert sid == 2
    assert read_snapshot(spark, t).count() == 25


def test_fresh_claim_blocks_commit(spark, tmp_path):
    """A FRESH claim (racing in-flight writer) is respected: retries
    exhaust into CommitConflict rather than breaking the lock."""
    from kblock_spark.io import tableformat as tf

    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t)
    with open(tf._snap_path(t, 2), "w") as f:
        json.dump({"snapshot_id": 2, "parent_id": 1, "files": []}, f)
    with pytest.raises(CommitConflict):
        append_snapshot(_df(spark, 10, 20), t, commit_retries=2)
    assert current_snapshot_id(t) == 1


def test_expire_then_vacuum_and_walkers_survive(spark, tmp_path):
    """expire_snapshots cuts the parent chain; every chain walker must
    treat the missing ancestor as end-of-chain, not crash."""
    from kblock_spark.io.tableformat import (
        last_committed_batch,
        remove_orphan_files,
        rollback_to,
    )

    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t, batch_id=0)
    append_snapshot(_df(spark, 10, 20), t, batch_id=1)
    append_snapshot(_df(spark, 20, 30), t)
    append_snapshot(_df(spark, 30, 40), t)
    expire_snapshots(t, keep_last=2)  # keeps 4, 3; cuts below 3
    # vacuum walks the full chain → must stop at the cut
    removed = remove_orphan_files(t)
    assert read_snapshot(spark, t).count() == 40
    assert isinstance(removed, list)
    # every commit carries its parent's batch id, so the kept 3 and 4
    # still hold batch 1 after the tagged snapshots expired
    assert last_committed_batch(t) == 1
    # a chain without batch ids walks into the cut → None, not
    # FileNotFoundError
    u = str(tmp_path / "untagged")
    append_snapshot(_df(spark, 0, 5), u)
    append_snapshot(_df(spark, 5, 10), u)
    expire_snapshots(u, keep_last=1)
    assert last_committed_batch(u) is None
    # rollback ancestry walk over the cut → clean ValueError
    with pytest.raises(ValueError, match="not a live ancestor"):
        rollback_to(t, 1)
    # a second, wider expire doesn't crash on the already-cut chain
    assert isinstance(expire_snapshots(t, keep_last=5), list)


def test_incremental_read_over_expired_range_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t)
    append_snapshot(_df(spark, 10, 20), t)
    append_snapshot(_df(spark, 20, 30), t)
    expire_snapshots(t, keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        incremental_read(spark, t, from_snapshot=1)


def test_merge_manifest_records_evolved_schema(spark, tmp_path):
    """A schema-widening merge must record the schema it computed
    `evolved` against — recording the stale parent schema made every
    later append re-diff against a schema the table no longer has."""
    from kblock_spark.io.tableformat import merge_into

    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t, stat_cols=["doc_id"])
    ups = _df(spark, 5, 12).withColumn("extra", F.lit(9).cast("long"))
    merge_into(spark, t, ups, "doc_id")
    m = read_manifest(t)
    assert "extra" in m["schema"]
    assert m["schema_evolved"] is True
    # an append with the SAME widened schema is not a new evolution
    # diff against a stale schema: the recorded schema matches
    widened = _df(spark, 12, 15).withColumn("extra", F.lit(1).cast("long"))
    append_snapshot(widened, t)
    m2 = read_manifest(t)
    assert m2["schema"] == widened.schema.simpleString()
    tbl = read_snapshot(spark, t)
    assert tbl.count() == 15
    assert "extra" in tbl.columns


def test_merge_keeps_column_names_outside_identifier_syntax(spark, tmp_path):
    """A copy-on-write merge keeps columns whose names are not plain
    identifiers: the recorded schema string cannot carry "n chars" or
    "a:b", so the union schema must come from the files."""
    from kblock_spark.io.tableformat import merge_into

    t = str(tmp_path / "tbl")
    base = _df(spark, 0, 10).select(
        "doc_id", F.col("v").alias("n chars"), F.lit(1).cast("long").alias("a:b")
    )
    append_snapshot(base.coalesce(1), t, stat_cols=["doc_id"])
    ups = _df(spark, 5, 12).select(
        "doc_id", F.lit(-1).cast("long").alias("n chars")
    )
    assert merge_into(spark, t, ups, "doc_id")["files_rewritten"] == 1
    got = {
        r["doc_id"]: (r["n chars"], r["a:b"])
        for r in read_snapshot(spark, t).collect()
    }
    assert got == {
        **{k: (k * 7 % 100, 1) for k in range(5)},
        **{k: (-1, None) for k in range(5, 12)},
    }
