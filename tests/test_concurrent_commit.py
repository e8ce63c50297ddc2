"""Optimistic concurrency: merge commits rebase onto a concurrent
writer's head when compatible (disjoint COW buckets / MOR appends) and
raise ConcurrentCommitError when genuinely conflicting. The rebase is
metadata-only — the loser's already-written files re-commit without any
Spark re-run."""

import pytest
from pyspark.sql import types as T

from sap_spark.plans.lake import ConcurrentCommitError, LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)

FULL = T.StructType(
    list(SCHEMA.fields)
    + [
        T.StructField("op", T.StringType(), True),
        T.StructField("event_seq", T.LongType(), True),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, FULL)


def _ids_in_distinct_buckets(table, spark, n=2, probe=64):
    """First `n` single-key ids that land in pairwise-distinct buckets."""
    picked, buckets = [], set()
    for i in range(probe):
        [b] = table.affected_bucket_offsets(_batch(spark, [(i, "x", "I", 1)]))
        if b not in buckets:
            picked.append(i)
            buckets.add(b)
        if len(picked) == n:
            return picked
    raise AssertionError("probe space too small")


def _ids_in_same_bucket(table, spark, probe=64):
    by_bucket = {}
    for i in range(probe):
        [b] = table.affected_bucket_offsets(_batch(spark, [(i, "x", "I", 1)]))
        by_bucket.setdefault(b, []).append(i)
        if len(by_bucket[b]) == 2:
            return by_bucket[b]
    raise AssertionError("probe space too small")


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_disjoint_bucket_writers_both_commit(spark, tmpdir_path, mode):
    path = f"{tmpdir_path}/{mode}"
    LakeTable.create(spark, path, SCHEMA, key_columns=["id"], num_buckets=8,
                     merge_mode=mode)
    a, b = LakeTable(spark, path), LakeTable(spark, path)  # same base version
    id_a, id_b = _ids_in_distinct_buckets(a, spark)

    assert b.merge_cdc(_batch(spark, [(id_b, "from-b", "I", 1)]), "batch-b")
    # a's handle is stale: its commit races b's and must rebase, not raise
    assert a.merge_cdc(_batch(spark, [(id_a, "from-a", "I", 2)]), "batch-a")

    fresh = LakeTable(spark, path)
    got = {r["id"]: r["v"] for r in fresh.read().collect()}
    assert got == {id_a: "from-a", id_b: "from-b"}
    assert {"batch-a", "batch-b"} <= fresh.committed_batches()
    assert fresh.version == a.version  # a holds the rebased head


def test_cow_same_bucket_conflict_raises(spark, tmpdir_path):
    path = f"{tmpdir_path}/t"
    LakeTable.create(spark, path, SCHEMA, key_columns=["id"], num_buckets=4)
    a, b = LakeTable(spark, path), LakeTable(spark, path)
    id1, id2 = _ids_in_same_bucket(a, spark)

    assert b.merge_cdc(_batch(spark, [(id1, "from-b", "I", 1)]), "batch-b")
    with pytest.raises(ConcurrentCommitError, match="stale content"):
        a.merge_cdc(_batch(spark, [(id2, "from-a", "I", 2)]), "batch-a")
    # the documented recovery: reload + retry recomputes against the head
    fresh = LakeTable(spark, path)
    assert fresh.merge_cdc(_batch(spark, [(id2, "from-a", "I", 2)]), "batch-a")
    got = {r["id"]: r["v"] for r in LakeTable(spark, path).read().collect()}
    assert got == {id1: "from-b", id2: "from-a"}


def test_mor_same_bucket_appends_compose(spark, tmpdir_path):
    """MOR merges only append delta files; two racers on the SAME bucket
    compose (the read-time fold orders by globally-unique event_seq)."""
    path = f"{tmpdir_path}/t"
    LakeTable.create(spark, path, SCHEMA, key_columns=["id"], num_buckets=4,
                     merge_mode="mor")
    a, b = LakeTable(spark, path), LakeTable(spark, path)
    id1, id2 = _ids_in_same_bucket(a, spark)

    assert b.merge_cdc(_batch(spark, [(id1, "from-b", "I", 1)]), "batch-b")
    assert a.merge_cdc(
        _batch(spark, [(id1, "newer", "U", 3), (id2, "from-a", "I", 2)]),
        "batch-a",
    )
    got = {r["id"]: r["v"] for r in LakeTable(spark, path).read().collect()}
    assert got == {id1: "newer", id2: "from-a"}


def test_same_batch_id_race_is_noop(spark, tmpdir_path):
    """A crash-retried epoch racing its own successor: the loser adopts
    the winner's state and reports the exactly-once no-op."""
    path = f"{tmpdir_path}/t"
    LakeTable.create(spark, path, SCHEMA, key_columns=["id"], num_buckets=4)
    a, b = LakeTable(spark, path), LakeTable(spark, path)

    assert b.merge_cdc(_batch(spark, [(1, "x", "I", 1)]), "epoch-0")
    assert a.merge_cdc(_batch(spark, [(1, "x", "I", 1)]), "epoch-0") is False
    assert a.version == b.version
    assert a.last_merge_metrics is None  # replay contract
    assert LakeTable(spark, path).read().count() == 1


def test_concurrent_rebucket_conflicts(spark, tmpdir_path):
    path = f"{tmpdir_path}/t"
    t = LakeTable.create(spark, path, SCHEMA, key_columns=["id"], num_buckets=4)
    t.merge_cdc(_batch(spark, [(1, "x", "I", 1)]), "b0")
    a = LakeTable(spark, path)  # stale handle at the pre-rebucket layout
    LakeTable(spark, path).rebucket(8)
    with pytest.raises(ConcurrentCommitError, match="rebucket"):
        a.merge_cdc(_batch(spark, [(2, "y", "I", 2)]), "b1")
    fresh = LakeTable(spark, path)
    assert fresh.merge_cdc(_batch(spark, [(2, "y", "I", 2)]), "b1")
    got = {r["id"]: r["v"] for r in LakeTable(spark, path).read().collect()}
    assert got == {1: "x", 2: "y"}
