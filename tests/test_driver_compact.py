"""Small merge-on-read compactions folded on the driver.

``LakeTable.compact`` reads dirty buckets whose files sum below
``plans/lake.DRIVER_DISCOVERY_MAX_BYTES`` with pyarrow, folds each key to
its latest row in Arrow and writes the result with the driver writer
(``_write_arrow_buckets``); every other compaction reads, folds and
writes through Spark. Each test here builds one table, copies it, and
compacts the copies on the two paths (``driver_write_schema`` patched to
None forces Spark), then requires the same table: internal rows,
fingerprint, files per bucket, manifest statistics, bloom pruning and
history.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.plans import lake
from sap_spark.plans.doctor import table_fingerprint
from sap_spark.plans.lake import LakeTable
from sap_spark.sources.datagen import write_change_log
from sap_spark.streaming.pipeline import CdcPipeline, fold_lineage

from tests.test_driver_write import (
    CFG,
    ENVELOPE,
    KEYS,
    PAYLOAD,
    _adversarial_log,
    _ingest,
    _nan,
    _rows,
    _spark_order,
)

ALL_TYPES = T.StructType([*ENVELOPE, *KEYS, *PAYLOAD])


def _compact_both(spark, root, monkeypatch, **kw):
    """Compact a copy of the table at ``root`` on each path; returns the
    reloaded ``(driver, tasks)`` tables."""
    shutil.copytree(root, f"{root}_tasks")
    driver, tasks = LakeTable(spark, root), LakeTable(spark, f"{root}_tasks")
    got = driver.compact(**kw)
    assert driver.last_compact_on == "driver"
    with monkeypatch.context() as m:
        m.setattr(LakeTable, "driver_write_schema", lambda self, user: None)
        assert tasks.compact(**kw) == got
    assert tasks.last_compact_on == "tasks"
    assert got
    return LakeTable(spark, root), LakeTable(spark, f"{root}_tasks")


def _same_compaction(spark, got: LakeTable, want: LakeTable, bloom_probe=()):
    """Everything the two compactions must agree on, except file bytes."""
    assert got.version == want.version
    assert _rows(got.read_internal()) == _rows(want.read_internal())
    assert table_fingerprint(spark, got) == table_fingerprint(spark, want)
    assert {b: [e.get("kind") for e in es] for b, es in got.bucket_entries()} == {
        b: [e.get("kind") for e in es] for b, es in want.bucket_entries()
    }
    assert [(h["version"], h["schema_id"], h["op"]) for h in got.history()] == [
        (h["version"], h["schema_id"], h["op"]) for h in want.history()
    ]
    for where in bloom_probe:
        assert len(got.read(where=where).inputFiles()) == len(
            want.read(where=where).inputFiles()
        ), where
        assert _rows(got.read(where=where)) == _rows(want.read(where=where))


def _same_stats(got: LakeTable, want: LakeTable):
    """The one file of each bucket the last compaction rewrote carries the
    same manifest statistics on both paths: null and NaN counts, bounds
    and a bloom. A float column holding NaN is the one allowed
    difference: pyarrow bounds its other values, parquet-mr's writer
    leaves the column unbounded (pruning stays sound either way, through
    the NaN count)."""
    want_entries = dict(want.bucket_entries())
    for b, entries in got.bucket_entries(got.history()[0]["op"]["buckets"]):
        assert len(entries) == len(want_entries[b]) == 1, b
        g, w = entries[0], want_entries[b][0]
        assert g.get("nulls") == w.get("nulls"), b
        assert g.get("nan") == w.get("nan"), b
        assert bool(g.get("bloom_ref")) == bool(w.get("bloom_ref")), b
        gs, ws = g.get("stats") or {}, w.get("stats") or {}
        assert {c: gs.get(c) for c in ws} == ws, b
        assert all((g.get("nan") or {}).get(c) for c in set(gs) - set(ws)), b


def _all_types_table(spark, tmpdir_path, monkeypatch, seed=1, **layout):
    log_dir = f"{tmpdir_path}/log"
    write_change_log(
        spark.createDataFrame(_adversarial_log(seed), ALL_TYPES), log_dir
    )
    root = f"{tmpdir_path}/t"
    _ingest(spark, root, log_dir, ALL_TYPES, True, monkeypatch, **layout)
    return root


@pytest.mark.parametrize("purge", [False, True])
def test_every_allowed_type_compacts_as_spark(spark, tmpdir_path, monkeypatch, purge):
    """Every payload type the driver writes, statistics on every column
    and a bloom on ``s``; tombstones purged and kept."""
    stats = [f.name for f in (*KEYS, *PAYLOAD)] + ["_event_seq", "_deleted"]
    root = _all_types_table(
        spark, tmpdir_path, monkeypatch, stats_columns=stats, bloom_columns=["s"]
    )
    before = _rows(LakeTable(spark, root).read())
    driver, tasks = _compact_both(spark, root, monkeypatch, purge_tombstones=purge)
    assert driver.delta_file_counts() == {}
    assert _rows(driver.read()) == before
    probe = [f"s = 's{v % 13}-{v}'" for v in (3, 41, 88)] + ["s = 'absent'"]
    _same_compaction(spark, driver, tasks, probe)
    _same_stats(driver, tasks)
    tombstones = driver.read_internal().where("_deleted").count()
    assert (tombstones == 0) == purge


def test_selective_buckets_compact_as_spark(spark, tmpdir_path, monkeypatch):
    """``buckets=`` rewrites only the named dirty buckets on both paths;
    the others keep their delta files."""
    root = _all_types_table(spark, tmpdir_path, monkeypatch, seed=4)
    chosen = sorted(LakeTable(spark, root).delta_file_counts())[:2]
    driver, tasks = _compact_both(
        spark, root, monkeypatch, buckets=chosen, purge_tombstones=True
    )
    assert sorted(driver.delta_file_counts()) == sorted(
        tasks.delta_file_counts()
    )
    assert not set(chosen) & set(driver.delta_file_counts())
    assert driver.delta_file_counts()
    _same_compaction(spark, driver, tasks)
    _same_stats(driver, tasks)


@pytest.mark.parametrize("fold_zero", [True, False])
def test_float_key_groups_as_spark(spark, tmpdir_path, monkeypatch, fold_zero):
    """A double key: ``-0.0`` and ``0.0`` are one key and every NaN is one
    key to Spark's fold, as on the driver (``fold_zero``); in a base-only
    bucket, which no fold reads, ``-0.0`` is rewritten as read on both
    paths."""
    schema = T.StructType(
        [T.StructField("x", T.DoubleType()), T.StructField("v", T.StringType())]
    )
    root = f"{tmpdir_path}/t"
    t = LakeTable.create(
        spark, root, schema, key_columns=["x"], num_buckets=4, merge_mode="mor",
        stats_columns=["x", "_event_seq"],
    )
    base = [-0.0, 2.5, 7.25, -3.0, 11.0, 12.5]
    t.overwrite(spark.createDataFrame([(x, f"b{x}") for x in base], schema))
    zero = t._buckets_for_key_combos([{"x": 0.0}])
    keys = [x for x in (1.5, 2.5, 7.25, -3.0, 11.0, 12.5)
            if fold_zero or t._buckets_for_key_combos([{"x": x}]) != zero]
    ddl = "x double, v string, op string, event_seq long"
    first = [(x, f"u{x}", "U", i + 1) for i, x in enumerate(keys)]
    second = [(keys[0], None, "D", 90)]
    if fold_zero:
        first += [(0.0, "a", "U", 50), (float("nan"), "n1", "I", 51)]
        second += [(-0.0, "b", "U", 60), (float("nan"), None, "D", 61)]
    t.merge_cdc(spark.createDataFrame(first, ddl), "b1")
    t.merge_cdc(spark.createDataFrame(second, ddl), "b2")
    driver, tasks = _compact_both(
        spark, root, monkeypatch, only_dirty=False, purge_tombstones=False
    )
    _same_compaction(spark, driver, tasks)
    _same_stats(driver, tasks)
    got = {repr(r["x"]): r["v"] for r in driver.read_internal().collect()}
    assert got == {repr(r["x"]): r["v"] for r in tasks.read_internal().collect()}
    if fold_zero:  # one row for 0.0/-0.0, one for the NaNs
        assert got["0.0"] == "b" and got["nan"] is None
        assert len(got) == len(base) + 2
    else:
        assert got["-0.0"] == "b-0.0" and len(got) == len(base) + 1


def test_sorted_double_with_nan_slices_as_spark(spark, tmpdir_path, monkeypatch):
    """``sort_columns`` on a double holding NULL and NaN with
    ``max_records_per_file``: each bucket's files hold the same slices of
    its rows, in Spark's order of ``d`` (nulls first, NaN last)."""
    root = _all_types_table(
        spark, tmpdir_path, monkeypatch, sort_columns=["d"],
        max_records_per_file=5, bloom_columns=["s"],
    )
    driver, tasks = _compact_both(spark, root, monkeypatch, purge_tombstones=False)
    _same_compaction(spark, driver, tasks, [f"s = 's{v % 13}-{v}'" for v in (3, 41)])
    slices = []
    for t in (driver, tasks):
        files = []
        for b, entries in t.bucket_entries():
            cols = [
                pq.read_table(e["path"], columns=["d"])["d"].to_pylist()
                for e in sorted(entries, key=lambda e: e["path"])
            ]
            assert all(0 < len(c) <= 5 for c in cols)
            flat = [v for c in cols for v in c]
            assert flat == sorted(flat, key=_spark_order), (t.path, b)
            files.append((b, [repr(list(map(_nan, c))) for c in cols]))
        slices.append(sorted(files))
    assert slices[0] == slices[1]
    assert any("NaN" in c for _, cs in slices[0] for c in cs)


def test_older_schema_files_conform_as_spark(spark, tmpdir_path, monkeypatch):
    """Base files written under the first schema (``i`` int), deltas under
    the evolved one (``i`` long, a nullable ``lic`` added): the driver
    read casts ``i`` and fills ``lic`` with NULL as Spark's read does."""
    v1 = T.StructType([*ENVELOPE, *KEYS, T.StructField("i", T.IntegerType(), True)])
    v2 = T.StructType([
        *ENVELOPE, *KEYS, T.StructField("i", T.LongType(), True),
        T.StructField("lic", T.StringType(), True),
    ])
    later = [  # after every v1 seq, i past the int range
        (f"U{tok}", seq + 10**6, op, flag, cs and cs + 10**6, k, n,
         i and i * 10**9, None if i is None else f"L{seq}")
        for tok, seq, op, flag, cs, k, n, i in _adversarial_log(6, lambda v: (v,), 1)
    ]
    write_change_log(
        spark.createDataFrame(_adversarial_log(5, lambda v: (v,), 1), v1),
        f"{tmpdir_path}/log_v1",
    )
    write_change_log(spark.createDataFrame(later, v2), f"{tmpdir_path}/log_v2")
    root = f"{tmpdir_path}/t"
    _ingest(spark, root, f"{tmpdir_path}/log_v1", v1, True, monkeypatch, "v1")
    LakeTable(spark, root).compact(purge_tombstones=False)  # base at schema 0
    _ingest(spark, root, f"{tmpdir_path}/log_v2", v2, True, monkeypatch, "v2")
    t = LakeTable(spark, root)
    sids = {e["schema_id"] for _, es in t.bucket_entries() for e in es}
    assert sids == {0, 1} and t.schema["i"].dataType == T.LongType()
    driver, tasks = _compact_both(spark, root, monkeypatch, purge_tombstones=False)
    _same_compaction(spark, driver, tasks)
    _same_stats(driver, tasks)
    assert {e["schema_id"] for _, es in driver.bucket_entries() for e in es} == {1}


def test_relocated_table_compacts_on_driver(spark, tmpdir_path, monkeypatch):
    """A merge-on-read table moved to a new directory before compaction:
    the driver reads its files at the new root, and the result matches
    Spark's compaction of the same moved table."""
    root = _all_types_table(spark, tmpdir_path, monkeypatch, seed=7)
    before = _rows(LakeTable(spark, root).read_internal())
    shutil.move(root, f"{tmpdir_path}/moved")
    driver, tasks = _compact_both(
        spark, f"{tmpdir_path}/moved", monkeypatch, purge_tombstones=False
    )
    assert _rows(driver.read_internal()) == before
    _same_compaction(spark, driver, tasks)
    assert all(
        e["path"].startswith(f"{tmpdir_path}/moved/")
        for _, es in driver.bucket_entries() for e in es
    )


def test_compaction_locality_gate(spark, tmpdir_path, monkeypatch):
    """The driver folds a linear compaction whose dirty buckets' files sum
    below the size line; Spark compacts a ``zorder`` rewrite, buckets at
    the line, a session codec pyarrow cannot write and a copy-on-write
    table. A compaction with nothing to do ran nowhere."""
    root = _all_types_table(spark, tmpdir_path, monkeypatch, seed=8)
    t = LakeTable(spark, root)
    dirty = sorted(t.delta_file_counts())
    size = sum(
        os.path.getsize(e["path"]) for _, es in t.bucket_entries(dirty) for e in es
    )
    monkeypatch.setattr(lake, "DRIVER_DISCOVERY_MAX_BYTES", size + 1)
    assert t._compacts_on_driver(dirty, None)
    assert not t._compacts_on_driver(dirty, ["i", "l"])
    monkeypatch.setattr(lake, "DRIVER_DISCOVERY_MAX_BYTES", size)
    assert not t._compacts_on_driver(dirty, None)

    def compacts_on_tasks(name, line, **kw):
        monkeypatch.setattr(lake, "DRIVER_DISCOVERY_MAX_BYTES", line)
        shutil.copytree(root, f"{root}_{name}")
        t = LakeTable(spark, f"{root}_{name}")
        assert t.compact(**kw)
        assert t.last_compact_on == "tasks"
        assert t.compact() == [] and t.last_compact_on is None

    compacts_on_tasks("zorder", size + 1, only_dirty=False, zorder=["i", "l"])
    compacts_on_tasks("at_line", size)
    codec = spark.conf.get("spark.sql.parquet.compression.codec")
    spark.conf.set("spark.sql.parquet.compression.codec", "lz4")
    try:
        compacts_on_tasks("lz4", size + 1)
    finally:
        spark.conf.set("spark.sql.parquet.compression.codec", codec)
    user = T.StructType([*KEYS, T.StructField("s", T.StringType(), True)])
    cow = LakeTable.create(
        spark, f"{tmpdir_path}/cow", user, key_columns=["k", "n"],
        num_buckets=4, merge_mode="cow",
    )
    cow.overwrite(spark.createDataFrame([("a", 1, "x")], user))
    assert cow.compact(only_dirty=False) and cow.last_compact_on == "tasks"


def _lineage(path: str) -> list:
    with open(f"{path}/_meta/lineage.jsonl") as f:
        return [json.loads(ln) for ln in f if ln.strip()]


@pytest.mark.parametrize("on", ["driver", "tasks"])
def test_lineage_records_where_compaction_ran(
    spark, tmpdir_path, monkeypatch, capsys, on
):
    """``compact_on`` sits beside ``compact_sec`` in every record, from
    the single-table and the multi-table pipeline alike: ``driver`` or
    ``tasks`` on an epoch that auto-compacted, null on the others;
    ``fold_lineage`` and ``cli status`` count it."""
    from sap_spark.cli import main
    from sap_spark.streaming.multitable import MultiTableCdcPipeline, TableTarget

    schema = T.StructType([*ENVELOPE, *KEYS, T.StructField("s", T.StringType(), True)])
    log_dir = f"{tmpdir_path}/log"
    write_change_log(
        spark.createDataFrame(_adversarial_log(3, lambda v: (f"v{v}",), 1), schema),
        log_dir,
    )
    if on == "tasks":
        monkeypatch.setattr(LakeTable, "driver_write_schema", lambda self, user: None)
    user = T.StructType([f for f in schema if f not in ENVELOPE])
    tables = [
        LakeTable.create(
            spark, f"{tmpdir_path}/{name}", user, key_columns=["k", "n"],
            num_buckets=4, merge_mode="mor",
        )
        for name in ("single", "multi")
    ]
    CdcPipeline(
        spark, CFG, tables[0], log_dir, checkpoint_dir=f"{tmpdir_path}/ckpt1",
        max_files_per_trigger=1, pipeline_id="eq", stream_schema=schema,
        auto_compact_delta_files=2,
    ).run_available_now(timeout_sec=300)
    routed = f"{tmpdir_path}/routed"
    write_change_log(
        spark.read.parquet(log_dir).withColumn("table_name", F.lit("multi")),
        routed,
    )
    MultiTableCdcPipeline(
        spark, {"multi": TableTarget(tables[1], CFG, auto_compact_delta_files=2)},
        routed, checkpoint_dir=f"{tmpdir_path}/ckpt2", max_files_per_trigger=1,
        pipeline_id="eq",
    ).run_available_now(timeout_sec=300)
    for t in tables:
        applied = [r for r in _lineage(t.path) if r.get("applied")]
        compacted = [r for r in applied if r["compacted_buckets"]]
        assert compacted and len(compacted) < len(applied)
        for r in applied:
            assert r["compact_on"] == (on if r["compacted_buckets"] else None)
            assert (r["compact_on"] is None) == (r["compact_sec"] is None)
        main(["status", "--table", t.path])
        status = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        for got in (fold_lineage(applied), status["pipelines"]["eq"]):
            assert got["compact_on"] == {on: len(compacted)}
