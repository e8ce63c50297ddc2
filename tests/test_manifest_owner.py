"""LakeTable as the one owner of the manifest: expiry walks the parent
chain once, the skipping bench counts the engine's own file plan, and
expiry sweeps bloom-sidecar debris the way it sweeps data files."""

import glob
import importlib.util
import os
import shutil
import time

import pytest
from pyspark.sql import types as T

from sap_spark.plans.doctor import check_table
from sap_spark.plans.lake import LakeTable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("c", T.StringType(), True),
    ]
)


def _base(spark, n=40):
    return spark.createDataFrame([(f"k{i}", i, f"c{i}") for i in range(n)], SCHEMA)


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "k string, v long, c string, op string, event_seq long"
    )


def test_expire_parses_each_retained_manifest_once(spark, tmpdir_path, monkeypatch):
    path = f"{tmpdir_path}/t"
    LakeTable.create(spark, path, SCHEMA, ["k"], num_buckets=2)
    for i in range(5):
        LakeTable(spark, path).merge_cdc(
            _changes(spark, [(f"k{i}", i, "c", "U", i + 1)]), batch_id=f"b{i}"
        )
    table = LakeTable(spark, path)
    assert table.version == 5

    loads = []
    load = LakeTable._load_manifest

    def counting(self, version):
        loads.append(version)
        return load(self, version)

    monkeypatch.setattr(LakeTable, "_load_manifest", counting)
    table.expire_snapshots(keep_last=3)
    assert sorted(loads) == [3, 4, 5]
    monkeypatch.undo()

    # history, timestamp resolution and a second expiry agree on the
    # retained chain 5 -> 4 -> 3, which ends at the trimmed parent
    fresh = LakeTable(spark, path)
    hist = fresh.history()
    assert [h["version"] for h in hist] == [5, 4, 3]
    assert hist[-1]["parent"] is None
    oldest_at = fresh.committed_at(3)
    assert fresh.version_as_of(oldest_at) == 3
    assert fresh.version_as_of(fresh.committed_at(4)) == 4
    with pytest.raises(ValueError, match="predates the retained history"):
        fresh.version_as_of(oldest_at - 1e-3)
    assert fresh.expire_snapshots(keep_last=3) == 0
    assert fresh.retained_manifest_count() == 3
    assert [h["version"] for h in LakeTable(spark, path).history()] == [5, 4, 3]


def _bench_skipping():
    spec = importlib.util.spec_from_file_location(
        "bench_skipping", os.path.join(ROOT, "tools", "bench_skipping.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_skipping_bench_counts_the_engines_mor_plan(spark, tmpdir_path):
    """A non-key conjunct prunes base-only buckets by bounds, but never a
    file of a delta-bearing bucket (it may hold an older version of a
    key whose latest row matches). The bench's count must follow."""
    path = f"{tmpdir_path}/t"
    LakeTable.create(
        spark, path, SCHEMA, ["k"], num_buckets=2, merge_mode="mor",
        stats_columns=["k", "v"],
    )
    LakeTable(spark, path).overwrite(_base(spark), batch_id="load")
    LakeTable(spark, path).merge_cdc(
        _changes(spark, [("k1", 1000, "c", "U", 1)]), batch_id="b0"
    )
    table = LakeTable(spark, path)
    assert sum(table.delta_file_counts().values()) == 1

    where = "v >= 500"
    kept, total, _, _ = _bench_skipping().manifest_kept(table, where)
    df = table.read(where=where)
    assert kept == len(df.inputFiles())
    assert kept < total  # the base-only bucket's file is pruned
    assert [tuple(r) for r in df.collect()] == [("k1", 1000, "c")]


def test_expire_sweeps_bloom_sidecar_debris(spark, tmpdir_path):
    path = f"{tmpdir_path}/t"
    LakeTable.create(spark, path, SCHEMA, ["k"], num_buckets=2, bloom_columns=["c"])
    LakeTable(spark, path).overwrite(_base(spark), batch_id="load")
    table = LakeTable(spark, path)
    live = glob.glob(f"{path}/data/*/__bucket=*/*.parquet")
    assert live and all(os.path.exists(p + ".bloom") for p in live)

    bdir = os.path.dirname(live[0])
    # a killed metadata task: its data file is an orphan, its sidecar
    # never left the tmp name
    orphan = os.path.join(bdir, "part-orphan.parquet")
    shutil.copy(live[0], orphan)
    orphan_tmp = orphan + ".bloom.tmp-4242"
    # a sidecar whose data file was deleted just before a crash
    stale = os.path.join(bdir, "part-deleted.parquet.bloom")
    # debris younger than the grace window: possibly an in-flight writer
    young = os.path.join(bdir, "part-young.parquet.bloom.tmp-4343")
    for f in (orphan_tmp, stale, young):
        with open(f, "w") as fh:
            fh.write("{}")
    old = time.time() - 3600
    for f in (orphan, orphan_tmp, stale):
        os.utime(f, (old, old))

    detail = {c["name"]: c for c in check_table(path)["checks"]}["orphans"]["detail"]
    assert "1 unreferenced files and 2 bloom sidecars without a data file" in detail

    assert table.expire_snapshots(keep_last=1, grace_seconds=60) == 1
    for f in (orphan, orphan_tmp, stale):
        assert not os.path.exists(f), f
    assert os.path.exists(young)
    assert all(os.path.exists(p) and os.path.exists(p + ".bloom") for p in live)

    os.remove(young)
    detail = {c["name"]: c for c in check_table(path)["checks"]}["orphans"]["detail"]
    assert "0 unreferenced files and 0 bloom sidecars" in detail
