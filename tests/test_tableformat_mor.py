"""Merge-on-read (Iceberg v2 position deletes): delete_where_mor /
merge_into_mor commit row ADDRESSES instead of rewriting data files;
scans apply them via a broadcast anti-join; compaction materializes
them; vacuum/expire treat delete files as live references."""

import os

import pytest
from pyspark.sql import functions as F

from kblock_spark.io.tableformat import (
    append_snapshot,
    compact_data_files,
    delete_where,
    delete_where_mor,
    merge_into,
    merge_into_mor,
    read_manifest,
    read_snapshot,
    remove_orphan_files,
    snapshot_diff,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7 % 100).alias("v")
    )


def _data_files(t):
    return sorted(e["path"] for e in read_manifest(t)["files"])


def test_mor_delete_rewrites_nothing(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 100).repartition(4), t, stat_cols=["doc_id"])
    before = _data_files(t)
    res = delete_where_mor(spark, t, "doc_id % 10 = 3")
    assert res["rows_deleted"] == 10
    assert _data_files(t) == before  # no data file touched
    got = {r["doc_id"] for r in read_snapshot(spark, t).collect()}
    assert got == {i for i in range(100) if i % 10 != 3}
    # time travel still sees the pre-delete rows
    assert read_snapshot(spark, t, snapshot_id=1).count() == 100


def test_mor_delete_not_retroactive_for_new_appends(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 50), t)
    delete_where_mor(spark, t, "doc_id < 10")
    append_snapshot(_df(spark, 0, 10), t)  # same ids re-appended
    # the delete addresses the ORIGINAL file's rows only
    assert read_snapshot(spark, t).count() == 40 + 10


def test_mor_merge_matches_cow_merge(spark, tmp_path):
    ta, tb = str(tmp_path / "cow"), str(tmp_path / "mor")
    for t in (ta, tb):
        append_snapshot(
            _df(spark, 0, 100).repartitionByRange(4, "doc_id"), t,
            stat_cols=["doc_id"],
        )
    ups = spark.range(90, 110).select(
        F.col("id").alias("doc_id"), F.lit(-1).cast("long").alias("v")
    )
    merge_into(spark, ta, ups, "doc_id")
    res = merge_into_mor(spark, tb, ups, "doc_id")
    assert res["rows_shadowed"] == 10
    assert res["files_touched"] == 1  # one range file held keys 90-99
    a = {tuple(r) for r in read_snapshot(spark, ta).collect()}
    b = {tuple(r) for r in read_snapshot(spark, tb).collect()}
    assert a == b and len(a) == 110


def test_compaction_materializes_deletes(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 60).repartition(3), t)
    delete_where_mor(spark, t, "doc_id >= 50")
    assert read_manifest(t).get("delete_files")
    compact_data_files(spark, t, target_files=1)
    m = read_manifest(t)
    assert not m.get("delete_files")
    assert read_snapshot(spark, t).count() == 50
    # vacuum after compaction must not resurrect anything
    remove_orphan_files(t)
    assert read_snapshot(spark, t).count() == 50


def test_vacuum_keeps_delete_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 40), t)
    delete_where_mor(spark, t, "doc_id % 2 = 0")
    removed = remove_orphan_files(t)
    assert not any("delete" in p or p.endswith(".parquet") for p in removed) or \
        read_snapshot(spark, t).count() == 20
    assert read_snapshot(spark, t).count() == 20


def test_cow_after_mor_does_not_resurrect(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(
        _df(spark, 0, 100).repartitionByRange(4, "doc_id"), t,
        stat_cols=["doc_id"],
    )
    delete_where_mor(spark, t, "doc_id % 10 = 3")
    # CoW merge rewrites the file holding keys 0-24: deleted rows in
    # it (3, 13, 23) must stay deleted through the rewrite. Key 3 is
    # deliberately NOT in the update set (an upsert of 3 would
    # legitimately re-insert it).
    ups = spark.range(0, 5).where("id != 3").select(
        F.col("id").alias("doc_id"), F.lit(-9).cast("long").alias("v")
    )
    merge_into(spark, t, ups, "doc_id")
    got = {r["doc_id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert 3 not in got and 13 not in got and 23 not in got
    assert got[0] == -9 and got[4] == -9
    assert len(got) == 100 - 10
    # CoW delete after MOR delete: same invariant
    delete_where(spark, t, "doc_id >= 90")
    got2 = {r["doc_id"] for r in read_snapshot(spark, t).collect()}
    assert got2 == {i for i in range(90) if i % 10 != 3}


def test_snapshot_diff_sees_mor_deletes(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = append_snapshot(_df(spark, 0, 30), t)
    s2 = delete_where_mor(spark, t, "doc_id IN (5, 6)")["snapshot_id"]
    d = snapshot_diff(spark, t, s1, s2, key_cols=["doc_id"])
    got = {(r["op"], r["doc_id"]) for r in d.collect()}
    assert got == {("delete", 5), ("delete", 6)}


def test_mor_merge_then_diff_shows_updates(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = append_snapshot(_df(spark, 0, 20), t)
    ups = spark.range(18, 25).select(
        F.col("id").alias("doc_id"), F.lit(-1).cast("long").alias("v")
    )
    s2 = merge_into_mor(spark, t, ups, "doc_id")["snapshot_id"]
    d = snapshot_diff(spark, t, s1, s2, key_cols=["doc_id"])
    got = {(r["op"], r["doc_id"]) for r in d.collect()}
    assert got == {("update", 18), ("update", 19)} | {
        ("insert", i) for i in range(20, 25)
    }


def test_streaming_upsert_sink_exactly_once_and_time_travel(spark, tmp_path):
    from kblock_spark.io.tableformat import (
        current_snapshot_id,
        streaming_upsert_sink,
    )

    t = str(tmp_path / "tbl")
    sink = streaming_upsert_sink(t, "doc_id")
    b0 = _df(spark, 0, 30)
    b1 = spark.range(20, 40).select(
        F.col("id").alias("doc_id"), F.lit(-1).cast("long").alias("v")
    )
    sink(b0, 0)
    sink(b1, 1)
    sid_after = current_snapshot_id(t)
    # replays of both batches no-op (exactly-once by manifest batch id)
    sink(b0, 0)
    sink(b1, 1)
    assert current_snapshot_id(t) == sid_after
    got = {r["doc_id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert len(got) == 40
    assert all(got[i] == -1 for i in range(20, 40))
    assert all(got[i] == i * 7 % 100 for i in range(20))
    # every pre-upsert state stays time-travelable
    assert read_snapshot(spark, t, snapshot_id=1).count() == 30


@pytest.mark.parametrize("name", ["tbl", "t b l", "t%41bl", "t+bl"])
def test_equality_delete_zero_read_and_seq_scoped(spark, tmp_path, name):
    """delete_keys_mor commits only a key list (no data file read or
    rewritten); rows appended AFTER the delete with the same key
    survive (sequence scoping) — the property position deletes get
    for free and equality deletes need seq comparison for. The scan
    finds each row's file seq by its path, which Spark percent-encodes
    for a space or '%' in the table dir but leaves '+' literal."""
    from kblock_spark.io.tableformat import delete_keys_mor

    t = str(tmp_path / name)
    append_snapshot(_df(spark, 0, 50).repartition(2), t)
    before = _data_files(t)
    keys = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    res = delete_keys_mor(spark, t, keys, "doc_id")
    assert res["keys"] == 10
    assert _data_files(t) == before  # zero data files touched
    assert read_snapshot(spark, t).count() == 40
    # re-append 5 of the deleted keys: the eq delete must NOT shadow
    # them (their file's seq > the delete's seq)
    append_snapshot(_df(spark, 0, 5), t)
    got = {r["doc_id"] for r in read_snapshot(spark, t).collect()}
    assert got == set(range(5)) | set(range(10, 50))
    # a second eq delete stacks, again zero-read
    delete_keys_mor(
        spark, t, spark.range(3).select(F.col("id").alias("doc_id")), "doc_id"
    )
    got2 = {r["doc_id"] for r in read_snapshot(spark, t).collect()}
    assert got2 == {3, 4} | set(range(10, 50))
    # time travel: pre-delete state intact
    assert read_snapshot(spark, t, snapshot_id=1).count() == 50


def test_equality_delete_compaction_materializes(spark, tmp_path):
    from kblock_spark.io.tableformat import delete_keys_mor

    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 30), t)
    delete_keys_mor(
        spark, t, spark.range(20, 40).select(F.col("id").alias("doc_id")),
        "doc_id",
    )
    assert read_snapshot(spark, t).count() == 20
    compact_data_files(spark, t, target_files=1)
    m = read_manifest(t)
    assert not m.get("delete_files")
    assert read_snapshot(spark, t).count() == 20


def test_mixed_position_and_equality_deletes(spark, tmp_path):
    from kblock_spark.io.tableformat import delete_keys_mor

    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 60).repartition(3), t)
    delete_where_mor(spark, t, "doc_id % 10 = 1")       # position
    delete_keys_mor(
        spark, t, spark.range(30, 40).select(F.col("id").alias("doc_id")),
        "doc_id",
    )                                                    # equality
    got = {r["doc_id"] for r in read_snapshot(spark, t).collect()}
    assert got == {
        i for i in range(60) if i % 10 != 1 and not (30 <= i < 40)
    }
