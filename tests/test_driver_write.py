"""Small merge-on-read epochs written from the driver.

A small batch bound for a merge-on-read table is collected whole, folded
in Arrow (``operators/dedup.fold_arrow``) and written as pyarrow delta
files (``LakeTable._merge_arrow``). Every test here feeds one log through
that path and through the Spark fold and write (``spark_write`` forces
it) and requires the same table: internal rows, change feed, lineage,
files per bucket, bloom pruning and fingerprint.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from sap_spark.config import EngineConfig
from sap_spark.plans.doctor import table_fingerprint
from sap_spark.plans.lake import LakeTable
from sap_spark.sources.datagen import write_change_log
from sap_spark.streaming.pipeline import CdcPipeline, fold_lineage, merge_phases

ENVELOPE = [
    T.StructField("delta_token", T.StringType(), True),
    T.StructField("event_seq", T.LongType(), True),
    T.StructField("op", T.StringType(), True),
    T.StructField("rocancel", T.BooleanType(), True),
    T.StructField("cancel_seq", T.LongType(), True),
]
KEYS = [T.StructField("k", T.StringType(), True), T.StructField("n", T.IntegerType(), True)]
# every type the driver write allows
PAYLOAD = [
    T.StructField("s", T.StringType(), True),
    T.StructField("b", T.BooleanType(), True),
    T.StructField("i", T.IntegerType(), True),
    T.StructField("l", T.LongType(), True),
    T.StructField("f", T.FloatType(), True),
    T.StructField("d", T.DoubleType(), True),
    T.StructField("dec", T.DecimalType(10, 2), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("bin", T.BinaryType(), True),
]
CFG = EngineConfig(key_columns=("k", "n"), payload_columns=()).validate()
PHASE_KEYS = {
    "write_on", "fold_and_discover_sec", "merge_write_sec", "metadata_sec",
    "metadata_on", "commit_sec", "n_affected_buckets",
}


def _typed(v: int) -> tuple:
    if v % 7 == 0:
        return (None,) * len(PAYLOAD)
    return (
        f"s{v % 13}-{v}", v % 2 == 0, v * 7, v * 10**10, v / 4,
        float("nan") if v % 11 == 0 else v / 3,
        decimal.Decimal(v * 7).scaleb(-2),
        datetime.datetime(2021, 1, 1) + datetime.timedelta(seconds=v * 37),
        bytes([v % 256, 7]),
    )


def _adversarial_log(seed: int, payload=_typed, width=len(PAYLOAD), tokens=4):
    """Events over 30 keys: cross-key ROCANCEL, redeliveries in a later
    token, duplicate deliveries within a token, NULL ops and NULL
    rocancel flags."""
    rng = random.Random(seed)
    keys = [(f"k{i % 6}", i) for i in range(30)]
    rows, seq, later = [], 0, []
    for t in range(tokens):
        tok = f"T{t}"
        rows += [(tok, *r[1:]) for r in later]  # redelivered: same seq, new token
        later, mine = [], []
        for _ in range(40):
            seq += 1
            op = rng.choice("IUUD")
            flag = None if rng.random() < 0.05 else False
            body = (None,) * width if op == "D" else payload(seq)
            row = (tok, seq, op, flag, None, *rng.choice(keys), *body)
            rows.append(row)
            mine.append(seq)
            if rng.random() < 0.1:
                rows.append(row)  # duplicate delivery inside the token
            if rng.random() < 0.1:
                later.append(row)
            if rng.random() < 0.1:  # cancels any earlier seq of the token
                seq += 1
                rows.append((tok, seq, rng.choice(["U", None]), True,
                             rng.choice(mine), *rng.choice(keys), *(None,) * width))
            if rng.random() < 0.05:  # no change: inert
                seq += 1
                rows.append((tok, seq, None, False, None, *rng.choice(keys),
                             *payload(seq)))
    return rows


def _ingest(spark, root, log_dir, schema, driver: bool, monkeypatch,
            pipeline_id="eq", **table_kw):
    """Run one log into a fresh merge-on-read table on either path."""
    with monkeypatch.context() as m:
        if not driver:
            m.setattr(LakeTable, "driver_write_schema", lambda self, user: None)
        LakeTable.create(
            spark, root, T.StructType([f for f in schema if f not in ENVELOPE]),
            key_columns=["k", "n"], num_buckets=4, merge_mode="mor",
            if_not_exists=True, **table_kw,
        )
        pipe = CdcPipeline(
            spark, CFG, LakeTable(spark, root), log_dir,
            checkpoint_dir=f"{root}_ckpt_{pipeline_id}",
            max_files_per_trigger=1, pipeline_id=pipeline_id,
            stream_schema=schema,
        )
        pipe.run_available_now(timeout_sec=300)
    return LakeTable(spark, root)


def _nan(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _rows(frame) -> list:
    """A frame's rows in a stable order, NaN made comparable."""
    return sorted((tuple(map(_nan, r)) for r in frame.collect()), key=repr)


def _spark_order(v) -> tuple:
    """``sortWithinPartitions``' ascending order of a double: nulls first,
    NaN after every number."""
    return (v is not None, v is not None and math.isnan(v), v)


def _same_table(spark, got: LakeTable, want: LakeTable, bloom_probe=None):
    """Everything the two paths must agree on, except where they wrote."""
    assert got.version == want.version
    assert _rows(got.read_internal()) == _rows(want.read_internal())
    for v in range(1, got.version):
        assert _rows(got.changes_between(v, v + 1)) == _rows(
            want.changes_between(v, v + 1)
        ), f"change feed {v}->{v + 1}"
    assert {b: len(es) for b, es in got.bucket_entries()} == {
        b: len(es) for b, es in want.bucket_entries()
    }
    assert table_fingerprint(spark, got) == table_fingerprint(spark, want)
    lineages = []
    for t in (got, want):
        with open(f"{t.path}/_meta/lineage.jsonl") as f:
            recs = [json.loads(ln) for ln in f if ln.strip()]
        lineages.append([
            (r["batch_id"], r["n_events"], r["min_token"], r["max_token"],
             r["bucket_offsets"])
            for r in recs if r.get("applied")
        ])
    assert lineages[0] == lineages[1] and lineages[0]
    for where in bloom_probe or []:
        assert len(got.read(where=where).inputFiles()) == len(
            want.read(where=where).inputFiles()
        ), where
        assert _rows(got.read(where=where)) == _rows(want.read(where=where))


def _applied(t: LakeTable) -> list:
    with open(f"{t.path}/_meta/lineage.jsonl") as f:
        return [r for r in map(json.loads, f) if r.get("applied")]


def test_every_allowed_type_matches_spark_write(spark, tmpdir_path, monkeypatch):
    """Every allowed payload type, with the table's write layout (sorted
    by the double ``d``, NULLs and NaNs included, at most 5 rows a file)
    and a bloom column. Each bucket's files hold the same slices of its
    rows on both paths."""
    schema = T.StructType([*ENVELOPE, *KEYS, *PAYLOAD])
    log_dir = f"{tmpdir_path}/log"
    write_change_log(spark.createDataFrame(_adversarial_log(1), schema), log_dir)
    layout = dict(sort_columns=["d"], max_records_per_file=5, bloom_columns=["s"])
    driver, tasks = (
        _ingest(spark, f"{tmpdir_path}/{name}", log_dir, schema, on, monkeypatch,
                **layout)
        for name, on in (("driver", True), ("tasks", False))
    )
    assert {r["merge_phases"]["write_on"] for r in _applied(driver)} == {"driver"}
    assert {r["fold"]["strategy"] for r in _applied(driver)} == {"arrow"}
    assert {r["merge_phases"]["write_on"] for r in _applied(tasks)} == {"tasks"}
    probe = [f"s = 's{v % 13}-{v}'" for v in (3, 41, 88)] + ["s = 'absent'"]
    _same_table(spark, driver, tasks, probe)
    # each commit's files a slice of its bucket's rows in Spark's order of d
    slices = []
    for t in (driver, tasks):
        files = []
        for b, entries in t.bucket_entries():
            commits: dict = {}
            for e in sorted(entries, key=lambda e: e["path"]):
                commit = e["path"].split("/__bucket=")[0]
                commits.setdefault(commit, []).append(
                    pq.read_table(e["path"], columns=["d"])["d"].to_pylist()
                )
            for cols in commits.values():
                assert all(0 < len(c) <= 5 for c in cols)
                flat = [v for c in cols for v in c]
                assert flat == sorted(flat, key=_spark_order), (t.path, b)
                files.append((b, [repr(list(map(_nan, c))) for c in cols]))
        slices.append(sorted(files))
    assert slices[0] == slices[1]
    assert any("NaN" in c for _, cs in slices[0] for c in cs)


@pytest.mark.parametrize("seed", [2, 9])
def test_adversarial_envelope_matches_spark_write(spark, tmpdir_path, monkeypatch, seed):
    """Cross-key ROCANCEL, redeliveries, duplicate deliveries within a
    token, NULL ops and NULL rocancel flags, on a two-column string
    payload."""
    payload = [T.StructField("s", T.StringType(), True),
               T.StructField("i", T.IntegerType(), True)]
    schema = T.StructType([*ENVELOPE, *KEYS, *payload])
    rows = _adversarial_log(seed, lambda v: (f"v{v}", v), width=2, tokens=6)
    log_dir = f"{tmpdir_path}/log"
    write_change_log(spark.createDataFrame(rows, schema), log_dir)
    driver, tasks = (
        _ingest(spark, f"{tmpdir_path}/{name}", log_dir, schema, on, monkeypatch,
                bloom_columns=["s"])
        for name, on in (("driver", True), ("tasks", False))
    )
    assert {r["merge_phases"]["write_on"] for r in _applied(driver)} == {"driver"}
    _same_table(spark, driver, tasks, ["s = 'v5'", "s = 'v77'"])


def test_schema_evolution_matches_spark_write(spark, tmpdir_path, monkeypatch):
    """A second feed adds a nullable column and widens ``i`` int → long."""
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
    tables = {}
    for name, on in (("driver", True), ("tasks", False)):
        for v, schema in (("v1", v1), ("v2", v2)):
            tables[name] = _ingest(
                spark, f"{tmpdir_path}/{name}", f"{tmpdir_path}/log_{v}", schema,
                on, monkeypatch, pipeline_id=v,
            )
    driver, tasks = tables["driver"], tables["tasks"]
    assert driver.schema["i"].dataType == T.LongType()
    assert "lic" in driver.schema.names
    assert {r["merge_phases"]["write_on"] for r in _applied(driver)} == {"driver"}
    _same_table(spark, driver, tasks)


def test_lineage_record_shape(spark, tmpdir_path, monkeypatch, capsys):
    """Every applied epoch's ``merge_phases`` carries ``write_on`` and the
    same phase fields on both paths, ``fold.strategy`` is ``arrow`` on the
    driver path, and ``cli status`` counts both per pipeline. A backend
    that times no phases (Iceberg) records ``{"write_on": "tasks"}``."""
    from sap_spark.cli import main
    from sap_spark.plans.iceberg_backend import IcebergTable

    schema = T.StructType([*ENVELOPE, *KEYS, T.StructField("s", T.StringType(), True)])
    log_dir = f"{tmpdir_path}/log"
    write_change_log(
        spark.createDataFrame(_adversarial_log(3, lambda v: (f"v{v}",), 1), schema),
        log_dir,
    )
    for name, on in (("driver", True), ("tasks", False)):
        t = _ingest(spark, f"{tmpdir_path}/{name}", log_dir, schema, on, monkeypatch)
        applied = _applied(t)
        for r in applied:
            assert set(r["merge_phases"]) == PHASE_KEYS
            assert r["merge_phases"]["write_on"] == name
            assert set(r["fold"]) == {
                "strategy", "hot_key_count", "discovery_on", "discover_sec"
            }
            assert r["fold"]["discovery_on"] == "driver"
            assert r["fold"]["strategy"] == ("arrow" if on else "fetch")
        rollup = fold_lineage(applied)
        main(["status", "--table", t.path])
        status = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        for got in (rollup, status["pipelines"]["eq"]):
            assert got["write_on"] == {name: len(applied)}
            assert got["fold_strategy"] == {("arrow" if on else "fetch"): len(applied)}
    iceberg = IcebergTable.__new__(IcebergTable)
    assert iceberg.last_merge_metrics is None
    assert merge_phases(iceberg) == {"write_on": "tasks"}


def test_driver_write_falls_back_to_tasks(spark, tmpdir_path, monkeypatch):
    """The driver write runs only where pyarrow writes what Spark would
    read back: a session codec with no pyarrow writer, a column type
    outside the allow-list, a refused key widening, a COW table, an
    Iceberg table and an Arrow batch without its ``__bucket`` all merge
    on tasks, to the same rows."""
    from sap_spark.plans.iceberg_backend import IcebergTable
    from sap_spark.streaming.pipeline import _whole_batch

    schema = T.StructType([*ENVELOPE, *KEYS, T.StructField("s", T.StringType(), True)])
    rows = _adversarial_log(4, lambda v: (f"v{v}",), 1, tokens=2)
    log_dir = f"{tmpdir_path}/log"
    write_change_log(spark.createDataFrame(rows, schema), log_dir)
    codec = spark.conf.get("spark.sql.parquet.compression.codec")
    spark.conf.set("spark.sql.parquet.compression.codec", "lz4")
    try:
        lz4 = _ingest(spark, f"{tmpdir_path}/lz4", log_dir, schema, True, monkeypatch)
    finally:
        spark.conf.set("spark.sql.parquet.compression.codec", codec)
    driver = _ingest(spark, f"{tmpdir_path}/driver", log_dir, schema, True, monkeypatch)
    assert {r["merge_phases"]["write_on"] for r in _applied(lz4)} == {"tasks"}
    assert _rows(lz4.read_internal()) == _rows(driver.read_internal())

    user = T.StructType([*KEYS, T.StructField("s", T.StringType(), True)])
    assert driver.driver_write_schema(user) == user
    wider = T.StructType([*KEYS, T.StructField("s2", T.StringType(), True)])
    assert driver.driver_write_schema(wider).names == ["k", "n", "s", "s2"]
    tags = T.StructType([*KEYS, T.StructField("tags", T.ArrayType(T.StringType()))])
    assert driver.driver_write_schema(tags) is None
    widened_key = T.StructType([KEYS[0], T.StructField("n", T.LongType(), True)])
    assert driver.driver_write_schema(widened_key) is None
    cow = LakeTable.create(
        spark, f"{tmpdir_path}/cow", user, key_columns=["k", "n"],
        num_buckets=4, merge_mode="cow",
    )
    assert cow.driver_write_schema(user) is None
    # an Iceberg table (merge-on-read by default) merges every batch in
    # one Spark MERGE INTO: discovery never collects a batch whole for it
    iceberg = IcebergTable.__new__(IcebergTable)
    iceberg._props = {}
    assert iceberg.merge_mode == "mor"
    assert _whole_batch(spark.read.parquet(log_dir), iceberg, CFG) is None

    batch = pa.table({
        "k": ["a", "b"], "n": pa.array([1, 2], pa.int32()),
        "s": ["x", None], "event_seq": [5, 6], "op": ["U", "D"],
    })
    for mode in ("cow", "mor"):
        t = LakeTable.create(
            spark, f"{tmpdir_path}/direct_{mode}", T.StructType(
                [*KEYS, T.StructField("s", T.StringType(), True)]),
            key_columns=["k", "n"], num_buckets=4, merge_mode=mode,
        )
        assert t.merge_cdc(batch, "b1")  # no __bucket: Spark places the keys
        assert t.last_merge_metrics["write_on"] == "tasks"
        assert _rows(LakeTable(spark, t.path).read()) == [("a", 1, "x")]
