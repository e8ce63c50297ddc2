"""Bounded exactly-once batch ledger (LakeTable + Iceberg parity).

Unbounded, the `commits` ledger grows one marker per epoch FOREVER and is
deep-copied + re-serialized into every later manifest — O(stream history)
driver bytes per commit on a long-lived pipeline. Every replay the engine
itself can produce (foreachBatch retry, crash between table commit and
checkpoint commit, a writer racing its own successor) sits within a
handful of epochs of the head, so the ledger is trimmed to a retention
window (default 10^4 ids, ~3 orders beyond any real replay depth; Delta's
setTransactionRetentionDuration is the public analog). Replaying an id
that aged OUT of the window re-applies — pinned below as a SEMANTIC no-op
for the LWW merge: same winners, same final rows, one burned version.
"""

import json

import pytest
from pyspark.sql import types as T

from sap_spark.plans.lake import DEFAULT_BATCH_LEDGER_RETENTION, LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)


def _make(spark, path, **kw):
    return LakeTable.create(
        spark, path, SCHEMA, key_columns=["repo", "path"], num_buckets=4, **kw
    )


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, content string, op string, event_seq long"
    )


def _state(table):
    return {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}


def test_default_retention_is_bounded(spark, tmpdir_path):
    t = _make(spark, tmpdir_path)
    assert t.batch_ledger_retention == DEFAULT_BATCH_LEDGER_RETENTION
    assert (
        t.manifest["properties"]["batch_ledger_retention"]
        == DEFAULT_BATCH_LEDGER_RETENTION
    )


def test_ledger_trims_oldest_beyond_retention(spark, tmpdir_path):
    t = _make(spark, tmpdir_path, batch_ledger_retention=3)
    for i in range(5):
        t.merge_cdc(
            _changes(spark, [("r", f"k{i}", f"v{i}", "I", i + 1)]), f"epoch-{i}"
        )
    # chronological tail only: the two oldest ids aged out
    assert t.manifest["commits"] == ["epoch-2", "epoch-3", "epoch-4"]
    # replay inside the window is still the exactly-once no-op
    v = t.version
    assert (
        t.merge_cdc(
            _changes(spark, [("r", "k4", "OTHER", "I", 99)]), "epoch-4"
        )
        is False
    )
    assert t.version == v


def test_evicted_replay_is_a_semantic_noop(spark, tmpdir_path):
    """An id beyond the window re-applies (burns a version) but the LWW
    merge converges to the same rows — the documented degradation."""
    t = _make(spark, tmpdir_path, batch_ledger_retention=2)
    batches = [
        [("r", "a", "v1", "I", 1)],
        [("r", "a", "v2", "U", 2)],
        [("r", "b", "w1", "I", 3)],
        [("r", "c", "x1", "I", 4)],
    ]
    for i, rows in enumerate(batches):
        t.merge_cdc(_changes(spark, rows), f"epoch-{i}")
    final = _state(t)
    v = t.version
    # epoch-0 has aged out of the 2-id window: the replay re-runs ...
    assert t.merge_cdc(_changes(spark, batches[0]), "epoch-0") is True
    assert t.version == v + 1
    # ... but the seq gate keeps every later writer's win: same rows
    assert _state(t) == final


def test_unbounded_optout_keeps_every_id(spark, tmpdir_path):
    t = _make(spark, tmpdir_path, batch_ledger_retention=None)
    assert t.batch_ledger_retention is None
    for i in range(5):
        t.merge_cdc(
            _changes(spark, [("r", f"k{i}", "v", "I", i + 1)]), f"epoch-{i}"
        )
    assert t.manifest["commits"] == [f"epoch-{i}" for i in range(5)]


def test_overwrite_path_trims_too(spark, tmpdir_path):
    t = _make(spark, tmpdir_path, batch_ledger_retention=2)
    for i in range(4):
        t.overwrite(
            spark.createDataFrame(
                [("r", "k", f"v{i}")], "repo string, path string, content string"
            ),
            batch_id=f"backfill-{i}",
        )
    assert t.manifest["commits"] == ["backfill-2", "backfill-3"]


def test_legacy_manifest_reads_bounded_default(spark, tmpdir_path):
    """Tables created before the property existed trim from the next
    commit on, at the default window."""
    t = _make(spark, tmpdir_path)
    manifest = json.loads(json.dumps(t.manifest))
    del manifest["properties"]["batch_ledger_retention"]
    t._commit(manifest)
    t2 = LakeTable(spark, tmpdir_path)
    assert "batch_ledger_retention" not in t2.manifest["properties"]
    assert t2.batch_ledger_retention == DEFAULT_BATCH_LEDGER_RETENTION


def test_alter_retention_and_validation(spark, tmpdir_path):
    t = _make(spark, tmpdir_path, batch_ledger_retention=3)
    assert t.alter_properties(batch_ledger_retention=5) is True
    assert t.batch_ledger_retention == 5
    assert t.alter_properties(batch_ledger_retention=5) is False  # no-op
    assert t.alter_properties(batch_ledger_retention=None) is True
    assert t.batch_ledger_retention is None
    with pytest.raises(ValueError, match="batch_ledger_retention"):
        t.alter_properties(batch_ledger_retention=0)
    with pytest.raises(ValueError, match="batch_ledger_retention"):
        _make(spark, tmpdir_path + "_bad", batch_ledger_retention=-1)


def test_alter_explicit_unbounded_on_legacy_manifest(spark, tmpdir_path):
    """On a legacy manifest the key is ABSENT (reads as the bounded
    default); an explicit None must register as a change even though
    props.get() == None for both sides."""
    t = _make(spark, tmpdir_path)
    manifest = json.loads(json.dumps(t.manifest))
    del manifest["properties"]["batch_ledger_retention"]
    t._commit(manifest)
    t2 = LakeTable(spark, tmpdir_path)
    assert t2.alter_properties(batch_ledger_retention=None) is True
    assert t2.batch_ledger_retention is None
    t3 = LakeTable(spark, tmpdir_path)
    assert t3.batch_ledger_retention is None


def test_evicted_overwrite_replay_reapplies_full_overwrite(spark, tmpdir_path):
    """The first caveat of the bounded ledger: an overwrite() batch id
    that aged out re-applies the FULL overwrite, replacing every merge
    committed since — not a semantic no-op like an evicted merge."""
    t = _make(spark, tmpdir_path, batch_ledger_retention=1)
    base = spark.createDataFrame([("r", "a", "v1")], SCHEMA)
    t.overwrite(base, batch_id="load-0")
    t.merge_cdc(_changes(spark, [("r", "b", "w1", "I", 1)]), "epoch-1")
    assert t.manifest["commits"] == ["epoch-1"]  # load-0 evicted
    assert _state(t) == {("r", "a"): "v1", ("r", "b"): "w1"}
    v = t.version
    t.overwrite(base, batch_id="load-0")
    assert t.version == v + 1
    # epoch-1's row is gone: the replay was a real overwrite
    assert _state(t) == {("r", "a"): "v1"}


def test_evicted_merge_replay_after_tombstone_purge_resurrects_delete(
    spark, tmpdir_path
):
    """The second caveat of the bounded ledger: once compact() purged a
    key's tombstone, an evicted merge id replayed with the key's older
    upsert brings the deleted key back — nothing is left to gate it."""
    t = _make(spark, tmpdir_path, batch_ledger_retention=1)
    upsert = [("r", "k", "v1", "I", 1)]
    t.merge_cdc(_changes(spark, upsert), "b0")
    t.merge_cdc(_changes(spark, [("r", "k", None, "D", 2)]), "b1")
    assert ("r", "k") not in _state(t)
    t.compact(purge_tombstones=True)
    t.merge_cdc(_changes(spark, [("r", "other", "w1", "I", 3)]), "b2")
    assert t.manifest["commits"] == ["b2"]  # b0 evicted
    assert t.merge_cdc(_changes(spark, upsert), "b0") is True
    assert _state(t) == {("r", "k"): "v1", ("r", "other"): "w1"}
