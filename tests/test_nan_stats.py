"""NaN soundness of manifest float bounds + task-side metadata collection.

The defect class (round-4 ADVICE, high): Spark's parquet writer records
``max=NaN`` for NaN-bearing float files, and every Python comparison vs
NaN is False — so ``file_may_match`` silently dropped files whose rows DO
match, breaking the law-8 identity ``read(where=p) ≡ read().where(p)``.
Worse, spec-compliant writers OMIT NaN from stats entirely, leaving
clean-looking bounds on files whose NaN rows (Spark orders NaN LARGEST)
match any ``>``/``>=`` predicate.

The fix under test:
- a non-finite decoded bound kills the column's stats for that file
  (plans/stats._encode_bound);
- upper-bound pruning on float bounds requires NaN-absence proof — a
  recorded per-file NaN count of 0 (the Iceberg nan_value_counts analog,
  collected task-side with the blooms);
- ``=``/``<``/``<=``/``in`` stay prunable without proof (rows matching a
  non-NaN literal are themselves non-NaN, and omitted-NaN bounds are
  exact over the non-NaN rows).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.plans.lake import LakeTable
from sap_spark.plans.stats import (
    collect_entry_metadata,
    collect_metadata_distributed,
    collect_parquet_nans,
    file_may_match,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("name", T.StringType()),
    ]
)


def _mk(spark, path, **kw):
    kw.setdefault("num_buckets", 2)
    kw.setdefault("stats_columns", ["k", "v"])
    kw.setdefault("max_records_per_file", 64)
    kw.setdefault("sort_columns", ["v"])
    return LakeTable.create(spark, path, SCHEMA, ["k"], **kw)


def _nan_rows(spark, n=128):
    """Rows 0..n-1 with v = k, except every 10th row's v = NaN."""
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )


# ---------------------------------------------------------------------------
# unit: the file_may_match contract
# ---------------------------------------------------------------------------


def test_upper_bound_prune_requires_nan_proof():
    stats = {"v": [10.0, 20.0]}
    # no proof: the file may hold NaN rows, which Spark orders above any
    # literal — > / >= must keep it
    assert file_may_match(stats, [("v", ">", 20.0)])
    assert file_may_match(stats, [("v", ">=", 25.0)])
    # proof of absence: prune as before
    assert not file_may_match(stats, [("v", ">", 20.0)], nan_counts={"v": 0})
    assert not file_may_match(stats, [("v", ">=", 25.0)], nan_counts={"v": 0})
    # proof of PRESENCE: keep
    assert file_may_match(stats, [("v", ">", 20.0)], nan_counts={"v": 3})
    # a matching upper-side conjunct never drops regardless of proof
    assert file_may_match(stats, [("v", ">", 15.0)], nan_counts={"v": 0})


def test_other_ops_prune_without_nan_proof():
    stats = {"v": [10.0, 20.0], "k": [1, 9]}
    # rows matching a non-NaN literal are non-NaN: =, <, <=, in stay sound
    assert not file_may_match(stats, [("v", "=", 25.0)])
    assert not file_may_match(stats, [("v", "<", 10.0)])
    assert not file_may_match(stats, [("v", "<=", 9.0)])
    assert not file_may_match(stats, [("v", "in", (25.0, 30.0))])
    # integer columns carry no NaN risk: > prunes without proof
    assert not file_may_match(stats, [("k", ">", 9)])
    assert not file_may_match(stats, [("k", ">=", 10)])


# ---------------------------------------------------------------------------
# end-to-end: the round-4 ADVICE repro (law-8 identity on NaN data)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "where",
    ["v = 150.0", "v > 100.0", "v >= 119.0", "v < 5.0", "v <= 0.0"],
)
def test_read_identity_with_nan_rows(spark, tmpdir_path, where):
    t = _mk(spark, tmpdir_path)
    t.overwrite(_nan_rows(spark, 128).where(F.col("k") != 150))
    # one extra commit holding exactly the ADVICE repro file: a row with
    # v=150.0 and a NaN row in the same file
    from sap_spark.config import EngineConfig

    extra = spark.createDataFrame(
        [(150, 150.0, "x", "I", 1), (151, float("nan"), "y", "I", 2)],
        "k long, v double, name string, op string, event_seq long",
    )
    t.merge_cdc(extra, "nan-batch")
    t = LakeTable(spark, tmpdir_path)

    got = {r["k"] for r in t.read(where=where).collect()}
    want = {r["k"] for r in t.read().where(where).collect()}
    assert got == want, f"law-8 identity broken for {where!r}"


def test_nan_poisoned_bounds_are_dropped(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path)
    t.overwrite(_nan_rows(spark, 64))
    t = LakeTable(spark, tmpdir_path)
    for entries in t.manifest["buckets"].values():
        for e in entries:
            stats = e.get("stats") or {}
            # Spark records max=NaN for NaN-bearing files; the encode
            # guard must have dropped v's bounds (k's survive)
            assert "v" not in stats
            assert "k" in stats
            # and the NaN count layer recorded the presence
            assert (e.get("nan") or {}).get("v", 0) > 0
    # manifest is strict JSON (no bare NaN tokens)
    import json

    with open(t._manifest_path(t.version)) as f:
        json.loads(f.read())  # would raise on bare NaN with a strict parser


def test_clean_float_files_still_prune_upper(spark, tmpdir_path):
    """Clean data keeps the win: nan count 0 is recorded at write time,
    so > on the float column still skips files."""
    t = _mk(spark, tmpdir_path, num_buckets=1)
    clean = spark.range(256).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("v"),
        F.lit("x").alias("name"),
    )
    t.overwrite(clean)
    t = LakeTable(spark, tmpdir_path)
    entries = [e for es in t.manifest["buckets"].values() for e in es]
    assert len(entries) > 1  # max_records_per_file split the bucket
    assert all((e.get("nan") or {}).get("v") == 0 for e in entries)
    n_all = len(t.read().inputFiles())
    pruned = t.read(where="v > 1e9")
    assert pruned.count() == 0
    assert len(pruned.inputFiles()) == 0
    # and a selective range opens fewer files than the full scan
    sel = t.read(where="v >= 250.0")
    assert sel.count() == 6
    assert len(sel.inputFiles()) < n_all


def test_legacy_nan_bounds_read_and_scrub(spark, tmpdir_path):
    """Manifests written BEFORE the NaN fix carry Spark's max=NaN
    verbatim (json accepts the bare token). Two guarantees for an
    upgraded table: (1) read side — a non-finite bound decodes to
    missing, so it prunes nothing (the round-4 defect must stay closed
    for legacy METADATA, not just legacy writes); (2) write side — the
    load-time scrub drops the poisoned bounds so the next commit's
    ``allow_nan=False`` dump doesn't brick the table."""
    import json

    t = _mk(spark, tmpdir_path, num_buckets=1, max_records_per_file=None)
    clean = spark.range(32).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("v"),
        F.lit("x").alias("name"),
    )
    t.overwrite(clean)
    t = LakeTable(spark, tmpdir_path)
    mpath = t._manifest_path(t.version)
    with open(mpath) as f:
        m = json.load(f)
    entry = next(iter(m["buckets"].values()))[0]
    entry["stats"]["v"] = [1.0, float("nan")]  # the pre-fix on-disk shape
    entry.pop("nan", None)
    with open(mpath, "w") as f:
        json.dump(m, f)  # stdlib default allow_nan=True, like old code

    # unit: the poisoned bound keeps the file for every op shape
    assert file_may_match({"v": [1.0, float("nan")]}, [("v", "=", 5.0)])
    assert file_may_match({"v": [1.0, float("nan")]}, [("v", "in", (5.0,))])

    t2 = LakeTable(spark, tmpdir_path)
    assert {r["k"] for r in t2.read(where="v = 5.0").collect()} == {5}
    # the scrub removed the unusable bounds from the loaded manifest...
    for es in t2.manifest["buckets"].values():
        for e in es:
            assert "v" not in (e.get("stats") or {})
    # ...so the next commit survives allow_nan=False and writes strict JSON
    extra = spark.createDataFrame(
        [(99, 99.0, "y", "I", 1)],
        "k long, v double, name string, op string, event_seq long",
    )
    t2.merge_cdc(extra, "post-upgrade-batch")
    with open(t2._manifest_path(t2.version)) as f:
        text = f.read()
    assert "NaN" not in text
    json.loads(text)


# ---------------------------------------------------------------------------
# collection: NaN counts + driver/task equality
# ---------------------------------------------------------------------------


def test_collect_parquet_nans(spark, tmpdir_path):
    p = f"{tmpdir_path}/nans"
    _nan_rows(spark, 100).coalesce(1).write.parquet(p)
    import glob

    f = glob.glob(f"{p}/*.parquet")[0]
    counts = collect_parquet_nans(f, ["k", "v", "name"])
    # only float/double columns appear; 10 NaN rows out of 100
    assert counts == {"v": 10}


def test_distributed_metadata_matches_driver(spark, tmpdir_path):
    """The task-side pass and the driver footer walk are the same
    function — manifests must be identical byte-for-byte."""
    p = f"{tmpdir_path}/files"
    _nan_rows(spark, 200).withColumn(
        "commit", F.sha2(F.col("k").cast("string"), 256)
    ).repartition(3).write.parquet(p)
    import glob
    import json

    paths = sorted(glob.glob(f"{p}/*.parquet"))
    assert len(paths) >= 2
    stats_cols, bloom_cols = ["k", "v", "name"], ["commit"]
    driver = {
        q: collect_entry_metadata(q, stats_cols, bloom_cols) for q in paths
    }
    tasks = collect_metadata_distributed(spark, paths, stats_cols, bloom_cols)
    assert json.dumps(driver, sort_keys=True) == json.dumps(
        tasks, sort_keys=True
    )


BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("commit", T.StringType()),
    ]
)


def _bloom_rows(spark, n=100):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("commit"),
    )


def _new_jobs(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = fn()
    return out, set(tracker.getJobIdsForGroup()) - before


def test_write_path_is_task_side_for_bloom_tables(spark, tmpdir_path, monkeypatch):
    """A bloom commit at or above the byte crossover collects its
    metadata in the task pass — the driver reads no column data. The
    crossover is lowered to 1 byte so a 100-row commit crosses it."""
    import sap_spark.plans.stats as stats_mod

    monkeypatch.setattr(LakeTable, "_DISTRIBUTED_DATA_MIN_BYTES", 1)
    called = {"driver_entry": 0, "distributed": 0}
    real_entry = stats_mod.collect_entry_metadata
    real_dist = stats_mod.collect_metadata_distributed

    def spy_dist(spark_, paths, sc, bc):
        called["distributed"] += 1
        return real_dist(spark_, paths, sc, bc)

    # patch the names lake.py's _collect_commit_metadata imports
    monkeypatch.setattr(stats_mod, "collect_metadata_distributed", spy_dist)

    def spy_entry(p, sc, bc):
        called["driver_entry"] += 1
        return real_entry(p, sc, bc)

    monkeypatch.setattr(stats_mod, "collect_entry_metadata", spy_entry)

    t = LakeTable.create(
        spark,
        tmpdir_path,
        BLOOM_SCHEMA,
        ["k"],
        num_buckets=2,
        bloom_columns=["commit"],
    )
    t.overwrite(_bloom_rows(spark))
    assert called["distributed"] == 1
    assert called["driver_entry"] == 0  # driver touched no file
    # and the blooms landed
    t = LakeTable(spark, tmpdir_path)
    entries = [e for es in t.manifest["buckets"].values() for e in es]
    assert all("bloom_ref" in e for e in entries)  # bitmaps in sidecars


def test_small_bloom_commit_collects_on_driver_without_a_job(
    spark, tmpdir_path, monkeypatch
):
    """A bloom commit below the byte crossover takes the driver walk and
    launches no Spark job for it; its manifest entries and sidecar bytes
    equal what the task pass writes for the same files."""
    import json
    import os

    from sap_spark.plans.stats import bloom_sidecar_path

    jobs = []
    real = LakeTable._collect_commit_metadata

    def spy(self, *args, **kwargs):
        out, new = _new_jobs(spark, lambda: real(self, *args, **kwargs))
        jobs.append(new)
        return out

    monkeypatch.setattr(LakeTable, "_collect_commit_metadata", spy)
    # a float stats column too: its NaN count reads column data
    t = _mk(spark, tmpdir_path, bloom_columns=["name"])
    t.overwrite(_nan_rows(spark))
    assert jobs == [set()]

    t = LakeTable(spark, tmpdir_path)
    entries = {e["path"]: e for es in t.manifest["buckets"].values() for e in es}
    assert len(entries) >= 2
    assert sum(os.path.getsize(p) for p in entries) < t._DISTRIBUTED_DATA_MIN_BYTES
    assert all("bloom_ref" in e and "nan" in e for e in entries.values())
    sidecars = {}
    for p in entries:
        with open(bloom_sidecar_path(p), "rb") as f:
            sidecars[p] = f.read()
        os.remove(bloom_sidecar_path(p))

    tasks = collect_metadata_distributed(
        spark, sorted(entries), t.stats_columns, t.bloom_columns
    )
    for p, e in entries.items():
        driver_meta = {k: v for k, v in e.items() if k not in ("path", "schema_id")}
        assert json.dumps(driver_meta, sort_keys=True) == json.dumps(
            tasks[p], sort_keys=True
        )
        with open(bloom_sidecar_path(p), "rb") as f:
            assert f.read() == sidecars[p]


def test_task_pass_failure_falls_back_to_driver_walk(
    spark, tmpdir_path, monkeypatch
):
    """A task pass that raises must not strip the commit of its metadata:
    the commit falls back to the driver walk, says so with a
    RuntimeWarning, and records where the metadata ran."""
    import sap_spark.plans.stats as stats_mod

    def boom(*args, **kwargs):
        raise RuntimeError("metadata job lost its executors")

    monkeypatch.setattr(LakeTable, "_DISTRIBUTED_DATA_MIN_BYTES", 0)
    monkeypatch.setattr(stats_mod, "collect_metadata_distributed", boom)
    t = LakeTable.create(
        spark,
        tmpdir_path,
        BLOOM_SCHEMA,
        ["k"],
        num_buckets=2,
        bloom_columns=["commit"],
    )
    changes = _bloom_rows(spark).select(
        "*", F.lit("I").alias("op"), F.col("k").alias("event_seq")
    )
    with pytest.warns(RuntimeWarning, match="falling back to the driver-side walk"):
        assert t.merge_cdc(changes, "b0")
    assert t.last_merge_metrics["metadata_on"] == "driver"
    t = LakeTable(spark, tmpdir_path)
    entries = [e for es in t.manifest["buckets"].values() for e in es]
    assert entries
    assert all("stats" in e and "bloom_ref" in e for e in entries)
