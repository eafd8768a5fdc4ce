"""Model-based fuzz of every table-format commit kind: a random
sequence of append / overwrite / upsert / equality-delete /
predicate-delete / rollback / compaction / z-order / partition-spec
ops — upserts and predicate deletes both merge-on-read and
copy-on-write, specs cycling identity, bucket and unpartitioned — is
applied to a real snapshot
table AND to a plain in-memory dict model; after every committing op the
merge-on-read scan must equal the model exactly. This is the test
shape that catches cross-op interaction bugs no single-op test can
(e.g. an eq delete's sequence scoping vs a later rollback, or a
compaction materializing deletes under a pending chain) — each
example replays a different interleaving.

Kept cheap: hypothesis drives op CHOICES only (derandomized, few
examples); every op is one small Spark job.
"""

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from kblock_spark.io.tableformat import (
    append_snapshot,
    compact_data_files,
    current_snapshot_id,
    delete_keys_mor,
    delete_where,
    delete_where_mor,
    merge_into,
    merge_into_mor,
    overwrite_snapshot,
    read_snapshot,
    rollback_to,
    set_partition_spec,
    zorder_data_files,
)

_OPS = [
    "append", "overwrite", "upsert", "cow_upsert", "del_keys", "del_where",
    "cow_del_where", "rollback", "compact", "zorder", "set_spec",
]
_SPECS = [
    [{"col": "v", "transform": "identity"}],
    [{"col": "doc_id", "transform": "bucket", "n": 3}],
    [],
]
_UNIQ = [0]  # distinct table dir per hypothesis example (tmp_path is
# function-scoped, shared across examples of one test call)


def _rows_df(spark, rows):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(rows.items())], "doc_id long, v long"
    )


@given(
    ops=st.lists(
        st.tuples(st.sampled_from(_OPS), st.integers(0, 10**6)),
        min_size=4,
        max_size=7,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dml_sequences_match_model(spark, tmp_path, ops):
    _UNIQ[0] += 1
    t = str(tmp_path / f"tbl{_UNIQ[0]}")
    model: dict[int, int] = {}
    states: dict[int, dict[int, int]] = {}
    next_key = 0
    specs_set = 0

    def commit_state():
        states[current_snapshot_id(t)] = dict(model)

    # every sequence starts with one seed append so DML ops have a table
    seed = {k: k * 3 + 1 for k in range(10)}
    next_key = 10
    append_snapshot(_rows_df(spark, seed), t, stat_cols=["doc_id"])
    model.update(seed)
    commit_state()

    for op, r in ops:
        if op == "append":
            n = 3 + r % 8
            batch = {next_key + i: (next_key + i) * 3 + r % 100 for i in range(n)}
            next_key += n
            append_snapshot(_rows_df(spark, batch), t, stat_cols=["doc_id"])
            model.update(batch)
        elif op == "overwrite":
            n = 3 + r % 8
            model = {next_key + i: (next_key + i) * 5 + r % 100 for i in range(n)}
            next_key += n
            overwrite_snapshot(_rows_df(spark, model), t)
        elif op in ("upsert", "cow_upsert"):
            existing = sorted(model)[:: max(1, r % 5 + 1)][:5]
            fresh = [next_key + i for i in range(r % 3)]
            next_key += r % 3
            batch = {k: 10_000 + k + r % 100 for k in [*existing, *fresh]}
            if not batch:
                continue
            merge = merge_into_mor if op == "upsert" else merge_into
            merge(spark, t, _rows_df(spark, batch), "doc_id")
            model.update(batch)
        elif op == "del_keys":
            victims = sorted(model)[r % 3 :: max(1, r % 7 + 2)][:4]
            if not victims:
                continue
            delete_keys_mor(
                spark, t,
                spark.createDataFrame([(k,) for k in victims], "doc_id long"),
                "doc_id",
            )
            for k in victims:
                model.pop(k, None)
        elif op in ("del_where", "cow_del_where"):
            m = r % 5 + 2
            delete = delete_where_mor if op == "del_where" else delete_where
            delete(spark, t, f"v % {m} = {r % m}")
            model = {k: v for k, v in model.items() if v % m != r % m}
        elif op == "rollback":
            sid = sorted(states)[r % len(states)]
            rollback_to(t, sid)
            model = dict(states[sid])
        elif op == "compact":
            compact_data_files(spark, t, target_files=2)
        elif op == "zorder":
            zorder_data_files(spark, t, ["doc_id", "v"], target_files=2, bits=4)
        elif op == "set_spec":
            set_partition_spec(t, _SPECS[specs_set % len(_SPECS)])
            specs_set += 1
        commit_state()
        got = {
            row["doc_id"]: row["v"]
            for row in read_snapshot(spark, t).collect()
        }
        assert got == model, (op, r, len(got), len(model))

    # time travel back through every recorded state still reproduces it
    for sid, snap in list(states.items())[-3:]:
        got = {
            row["doc_id"]: row["v"]
            for row in read_snapshot(spark, t, snapshot_id=sid).collect()
        }
        assert got == snap, f"time travel to {sid} diverged"
