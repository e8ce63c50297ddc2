"""Snapshot expiry and maintenance safety under live replay."""

import glob
import os

import pyspark.sql.functions as F
from pyspark.sql import types as T

from sap_spark.config import EngineConfig
from sap_spark.plans.lake import LakeTable
from sap_spark.sources.datagen import gen_change_events
from sap_spark.streaming.pipeline import ingest_batch

CFG = EngineConfig().validate()

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)


def test_expire_snapshots(spark, tmpdir_path):
    events = gen_change_events(spark, n_events=2000, n_keys=200, events_per_token=500)
    table = LakeTable.create(spark, f"{tmpdir_path}/t", SCHEMA, ["repo", "path"], 4)
    for tok in sorted(r[0] for r in events.select("delta_token").distinct().collect()):
        ingest_batch(events.where(F.col("delta_token") == tok), table, CFG, f"b-{tok}")
    before = table.read().orderBy("repo", "path").collect()
    n_files_before = len(glob.glob(f"{table.path}/data/*/__bucket=*/*.parquet"))
    removed = table.expire_snapshots(keep_last=1)
    assert removed > 0
    n_files_after = len(glob.glob(f"{table.path}/data/*/__bucket=*/*.parquet"))
    assert n_files_after < n_files_before
    # reload from disk: current snapshot intact
    fresh = LakeTable(spark, table.path)
    assert fresh.read().orderBy("repo", "path").collect() == before
    # idempotency markers survive expiry (still exactly-once after cleanup)
    assert f"b-D0000000" in fresh.committed_batches()


def test_expire_snapshots_path_spelling_safe(spark, tmpdir_path):
    """expire must compare REAL paths: opening the table through a
    different spelling (here: a symlinked directory) must not mark the
    live files unreferenced and delete the current snapshot."""
    events = gen_change_events(spark, n_events=1000, n_keys=100, events_per_token=500)
    table = LakeTable.create(spark, f"{tmpdir_path}/t2", SCHEMA, ["repo", "path"], 4)
    for tok in sorted(r[0] for r in events.select("delta_token").distinct().collect()):
        ingest_batch(events.where(F.col("delta_token") == tok), table, CFG, f"b-{tok}")
    before = table.read().orderBy("repo", "path").collect()

    link = f"{tmpdir_path}/t2-link"
    os.symlink(f"{tmpdir_path}/t2", link)
    aliased = LakeTable(spark, link)
    aliased.expire_snapshots(keep_last=1)
    fresh = LakeTable(spark, f"{tmpdir_path}/t2")
    assert fresh.read().orderBy("repo", "path").collect() == before


def test_expire_snapshots_spelling_independent_of_cwd(spark, tmpdir_path):
    """Manifest paths may carry a spelling from a long-gone working
    directory (relative creation path, different mount). Expiry compares
    the table-internal suffix, so live files survive regardless of how
    the recorded prefix reads."""
    import json

    events = gen_change_events(spark, n_events=1000, n_keys=100, events_per_token=500)
    table = LakeTable.create(spark, f"{tmpdir_path}/t4", SCHEMA, ["repo", "path"], 4)
    for tok in sorted(r[0] for r in events.select("delta_token").distinct().collect()):
        ingest_batch(events.where(F.col("delta_token") == tok), table, CFG, f"b-{tok}")
    before = table.read().orderBy("repo", "path").collect()

    # rewrite the CURRENT manifest's file paths to an alien prefix,
    # keeping the data/<uuid>/__bucket=N/<file> suffix (what a relative
    # creation path from another cwd looks like at maintenance time)
    mpath = table._manifest_path(table.version)
    with open(mpath) as f:
        manifest = json.load(f)
    for entries in manifest["buckets"].values():
        for e in entries:
            suffix = e["path"].split(f"{tmpdir_path}/t4/", 1)[1]
            e["path"] = f"some/other/cwd/t4/{suffix}"
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    fresh = LakeTable(spark, f"{tmpdir_path}/t4")
    removed = fresh.expire_snapshots(keep_last=1)
    assert removed > 0  # old snapshots' files reclaimed
    # live files survived the alien spelling
    assert LakeTable(spark, f"{tmpdir_path}/t4").version == fresh.version
    n_live = len(glob.glob(f"{tmpdir_path}/t4/data/*/__bucket=*/*.parquet"))
    live_refs = {e["path"] for es in manifest["buckets"].values() for e in es}
    assert n_live == len(live_refs)


def test_expire_snapshots_aborts_on_missing_referenced_file(spark, tmpdir_path):
    """If a retained manifest references a file the scan can't see,
    expire must raise instead of deleting anything."""
    import pytest

    events = gen_change_events(spark, n_events=500, n_keys=50, events_per_token=500)
    table = LakeTable.create(spark, f"{tmpdir_path}/t3", SCHEMA, ["repo", "path"], 4)
    ingest_batch(events, table, CFG, "b0")
    victim = glob.glob(f"{table.path}/data/*/__bucket=*/*.parquet")[0]
    os.remove(victim)
    with pytest.raises(FileNotFoundError, match="aborted"):
        table.expire_snapshots(keep_last=1)


def test_maintenance_ops_invisible_under_live_replay(spark, tmpdir_path):
    """The round-trip contract every maintenance op promises
    individually, exercised COMPOSED and mid-stream: replaying the same
    change log with rebucket / zordered compact / alter / expiry
    interleaved between epochs must land on the exact state of a plain
    replay. (Only purge_tombstones stays off — tombstone purge is the
    one documented checkpoint-barrier op that is NOT epoch-boundary
    safe.)"""
    events = gen_change_events(
        spark, n_events=3000, n_keys=150, events_per_token=500
    )
    tokens = sorted(
        r[0] for r in events.select("delta_token").distinct().collect()
    )

    plain = LakeTable.create(
        spark, f"{tmpdir_path}/plain", SCHEMA, ["repo", "path"], 4
    )
    for tok in tokens:
        ingest_batch(
            events.where(F.col("delta_token") == tok), plain, CFG, f"b-{tok}"
        )
    expected = plain.read().orderBy("repo", "path").collect()

    table = LakeTable.create(
        spark, f"{tmpdir_path}/maint", SCHEMA, ["repo", "path"], 4,
        merge_mode="mor", max_records_per_file=300,
    )
    ops = [
        lambda t: t.rebucket(7),
        lambda t: t.compact(
            only_dirty=False, purge_tombstones=False, zorder=["lang", "path"]
        ),
        lambda t: t.alter_properties(
            bloom_columns=["commit"], sort_columns=["path"]
        ),
        lambda t: t.rebucket(12, zorder=["path"]),
        lambda t: t.expire_snapshots(keep_last=1, grace_seconds=0),
        lambda t: t.compact(purge_tombstones=False),
    ]
    i = 0
    for tok in tokens:
        ingest_batch(
            events.where(F.col("delta_token") == tok), table, CFG, f"b-{tok}"
        )
        for _ in range(2):  # two maintenance ops between epochs
            ops[i % len(ops)](table)
            i += 1

    got = table.read().orderBy("repo", "path").collect()
    assert got == expected
    # the layered read path (bucket prune + bounds + bloom + MOR fold)
    # still answers point lookups exactly
    probe = expected[0]
    hit = table.read(
        where=f"repo = '{probe['repo']}' AND path = '{probe['path']}'"
    ).collect()
    assert len(hit) == 1 and hit[0]["commit"] == probe["commit"]


def _table_with_history(spark, tmpdir_path, n_tokens=4):
    """A small table with one commit per delta token (several versions)."""
    events = gen_change_events(
        spark, n_events=1200, n_keys=120, events_per_token=300
    )
    table = LakeTable.create(
        spark, f"{tmpdir_path}/hist", SCHEMA, ["repo", "path"], 4
    )
    toks = sorted(r[0] for r in events.select("delta_token").distinct().collect())
    for tok in toks[:n_tokens]:
        ingest_batch(
            events.where(F.col("delta_token") == tok), table, CFG, f"b-{tok}"
        )
    return table


def test_expire_tolerates_stray_manifest_names(spark, tmpdir_path):
    """A stray operator file matching the v*.json glob (e.g. a manual
    v1-copy.json backup) is tolerated by the read path
    (_current_version skips it) — maintenance must not crash on it
    mid-run either."""
    import os
    import shutil

    table = _table_with_history(spark, tmpdir_path)
    meta = os.path.join(table.path, "_meta")
    src = os.path.join(meta, f"v{1:08d}.json")
    stray = os.path.join(meta, f"v{1:08d}-copy.json")
    shutil.copy(src, stray)
    before = table.read().count()
    table.expire_snapshots(keep_last=1)
    assert os.path.exists(stray)  # skipped, untouched
    assert LakeTable(spark, table.path).read().count() == before


def test_expire_preserves_legacy_timestamp_resolvability(spark, tmpdir_path):
    """Legacy (stamp-less) manifests resolve by file mtime; the expiry
    parent-trim rewrite must freeze that mtime as a committed_at stamp,
    or the rewrite's fresh mtime pushes the snapshot into the future
    and version_as_of rejects timestamps that should resolve."""
    import json
    import os
    import time

    table = _table_with_history(spark, tmpdir_path)
    meta = os.path.join(table.path, "_meta")
    # strip the stamps => legacy table; backdate the files
    for name in os.listdir(meta):
        if name.startswith("v") and name.endswith(".json"):
            p = os.path.join(meta, name)
            with open(p) as f:
                m = json.load(f)
            m.pop("committed_at", None)
            with open(p, "w") as f:
                json.dump(m, f)
            os.utime(p, (time.time() - 3600, time.time() - 3600))
    table = LakeTable(spark, table.path)
    head = table.version
    table.expire_snapshots(keep_last=2)
    table = LakeTable(spark, table.path)
    # a timestamp just after the (backdated) commits resolves to the
    # oldest retained version, not ValueError
    assert table.version_as_of(time.time() - 3500) in (head, head - 1)
