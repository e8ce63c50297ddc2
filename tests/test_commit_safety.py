"""Single-step commit point + optimistic concurrency (LakeTable._commit).

The atomic ``os.link`` of the v(N+1) manifest IS the commit: data files
are complete before it, so a writer either committed (its manifest
exists) or left nothing — no claim-then-flip window, hence no torn
state to detect, no repair op, and no ownership heuristic that could
misfire and delete a slow live writer's claim. The same link is the
concurrency CAS: exactly one writer per version; the loser reloads and
retries, with batch markers making a retry of an already-won commit a
no-op.
"""

import glob
import os

import pytest
from pyspark.sql import types as T

from sap_spark.plans.lake import ConcurrentCommitError, LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)


def _make(spark, path):
    return LakeTable.create(
        spark, path, SCHEMA, key_columns=["repo", "path"], num_buckets=4
    )


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, content string, op string, event_seq long"
    )


def _state(table):
    return {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}


def _keys_in_distinct_buckets(table, spark, n=2, probe=32):
    """First `n` (repo, path) keys landing in pairwise-distinct buckets."""
    picked, buckets = [], set()
    for i in range(probe):
        key = ("r", f"k{i}")
        [b] = table.affected_bucket_offsets(
            _changes(spark, [(*key, "x", "I", 1)])
        )
        if b not in buckets:
            picked.append(key)
            buckets.add(b)
        if len(picked) == n:
            return picked
    raise AssertionError("probe space too small")


def test_racing_writers_rebase_when_disjoint_conflict_raises_otherwise(
    spark, tmpdir_path
):
    """The CAS loser REBASES automatically when the winner touched other
    buckets (metadata-only retry — its files re-commit, no Spark re-run);
    a same-bucket COW race is a real conflict and still fails loudly."""
    path = f"{tmpdir_path}/t"
    t = _make(spark, path)
    key_a, key_b = _keys_in_distinct_buckets(t, spark)
    h1 = LakeTable(spark, path)
    h2 = LakeTable(spark, path)  # same base version as h1
    assert h1.version == h2.version

    h1.merge_cdc(_changes(spark, [(*key_a, "v1", "I", 1)]), "b1")
    # h2's commit races h1's: disjoint buckets → automatic rebase
    assert h2.merge_cdc(_changes(spark, [(*key_b, "v2", "I", 2)]), "b2")
    fresh = LakeTable(spark, path)
    assert _state(fresh) == {key_a: "v1", key_b: "v2"}
    assert {"b1", "b2"} <= fresh.committed_batches()
    # no tmp litter from the raced first attempt
    assert not glob.glob(os.path.join(path, "_meta", "*.tmp-*"))

    # a same-bucket COW race is a REAL conflict: fails loudly, winner intact
    h3 = LakeTable(spark, path)
    fresh.merge_cdc(_changes(spark, [(*key_a, "v3", "U", 3)]), "b3")
    with pytest.raises(ConcurrentCommitError, match="stale content"):
        h3.merge_cdc(_changes(spark, [(*key_a, "v4", "U", 4)]), "b4")
    assert _state(LakeTable(spark, path)) == {key_a: "v3", key_b: "v2"}
    # the conflicting loser reloads and retries — the documented recovery
    retry = LakeTable(spark, path)
    assert retry.merge_cdc(_changes(spark, [(*key_a, "v4", "U", 4)]), "b4")
    assert _state(LakeTable(spark, path)) == {key_a: "v4", key_b: "v2"}


def test_crash_after_link_is_simply_committed(spark, tmpdir_path):
    """The restart story that motivates the single-step design: a driver
    that died right after the manifest link (e.g. before refreshing the
    advisory VERSION cache) has COMMITTED — a fresh handle resolves the
    highest manifest, not the stale cache, and the replayed epoch
    no-ops on its batch marker instead of wedging or double-applying."""
    path = f"{tmpdir_path}/t"
    table = _make(spark, path)
    table.merge_cdc(_changes(spark, [("r", "a", "v1", "I", 1)]), "b1")
    table.merge_cdc(_changes(spark, [("r", "b", "v2", "I", 2)]), "b2")

    # simulate the crash window: the advisory cache never got refreshed
    with open(os.path.join(path, "_meta", "VERSION"), "w") as f:
        f.write("1")

    fresh = LakeTable(spark, path)
    assert fresh.version == 2, "highest manifest wins, not the stale cache"
    assert _state(fresh) == {("r", "a"): "v1", ("r", "b"): "v2"}
    # the replayed epoch is the normal exactly-once no-op
    assert fresh.merge_cdc(_changes(spark, [("r", "b", "v2", "I", 2)]), "b2") is False
    # and the next commit repairs the cache as a side effect
    fresh.merge_cdc(_changes(spark, [("r", "c", "v3", "I", 3)]), "b3")
    with open(os.path.join(path, "_meta", "VERSION")) as f:
        assert int(f.read()) == 3


def test_stale_handle_write_rebases_or_conflicts_by_bucket(spark, tmpdir_path):
    """A handle pinned versions behind the head: writing a bucket the
    newer commits never touched rebases onto the head (the stale read
    of that bucket was still current); writing a bucket they DID touch
    is a real conflict — reload-and-retry is the documented recovery."""
    path = f"{tmpdir_path}/t"
    table = _make(spark, path)
    key_a, key_d = _keys_in_distinct_buckets(table, spark)
    table.merge_cdc(_changes(spark, [(*key_a, "v1", "I", 1)]), "b1")
    table.merge_cdc(_changes(spark, [(*key_a, "v2", "U", 2)]), "b2")

    stale = LakeTable(spark, path, version=1)
    # key_d's bucket is untouched since v1 → the stale write rebases
    assert stale.merge_cdc(_changes(spark, [(*key_d, "v4", "I", 4)]), "b4")
    assert _state(LakeTable(spark, path)) == {key_a: "v2", key_d: "v4"}

    # key_a's bucket changed after v1 → a real conflict from that handle
    stale2 = LakeTable(spark, path, version=1)
    with pytest.raises(ConcurrentCommitError, match="stale content"):
        stale2.merge_cdc(_changes(spark, [(*key_a, "v5", "U", 5)]), "b5")
    assert _state(LakeTable(spark, path)) == {key_a: "v2", key_d: "v4"}
    retry = LakeTable(spark, path)
    assert retry.merge_cdc(_changes(spark, [(*key_a, "v5", "U", 5)]), "b5")
    assert _state(LakeTable(spark, path)) == {key_a: "v5", key_d: "v4"}


def test_overwrite_replayed_batch_id_is_noop(spark, tmpdir_path):
    """overwrite shares merge_cdc's exactly-once contract: a restarted
    backfill re-running an already-committed epoch must not burn a
    version or re-spill the table."""
    table = _make(spark, f"{tmpdir_path}/t")
    df = spark.createDataFrame(
        [("r1", "p1", "body")], "repo string, path string, content string"
    )
    table.overwrite(df, batch_id="seed")
    v1 = table.version
    files1 = sorted(e["path"] for es in table.manifest["buckets"].values() for e in es)
    table.overwrite(df, batch_id="seed")  # replay: no-op
    assert table.version == v1
    files2 = sorted(e["path"] for es in table.manifest["buckets"].values() for e in es)
    assert files1 == files2
    # a NEW batch_id still overwrites
    table.overwrite(df, batch_id="seed2")
    assert table.version == v1 + 1
