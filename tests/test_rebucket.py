"""LakeTable.rebucket — bucket-count evolution (layout resharding).

The bucket count is sized for the table the day it is created
(derive_num_buckets: ~payload / 256 MB); a table that grows 100x —
the 10^10-event regime the north rule names — ends up with multi-GB
buckets that cap merge parallelism and blow past scan-friendly file
sizes. rebucket() rewrites the layout under a new count in ONE atomic
commit: readers keep their snapshot, the version gate survives
(tombstones are carried, never purged), and the next merge routes by
the new hash. The cross-backend semantics live in
tests/test_backend_contract.py law 9; this file pins the
LakeTable-specific layout invariants plus the expire_snapshots grace
window that makes maintenance safe next to an in-flight writer.
"""

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.plans.lake import LakeTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)


def _make(spark, path, merge_mode="cow", num_buckets=8):
    return LakeTable.create(
        spark,
        path,
        SCHEMA,
        key_columns=["repo", "path"],
        num_buckets=num_buckets,
        merge_mode=merge_mode,
    )


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, content string, op string, event_seq long"
    )


def _seed(spark, table, n=60):
    table.merge_cdc(
        _changes(
            spark, [(f"r{i % 7}", f"p{i}", f"c{i}", "I", i + 1) for i in range(n)]
        ),
        "seed",
    )


def _state(table):
    return {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}


def _rows_in_declared_buckets(table):
    """Every stored row must live in the bucket its key hashes to under
    the CURRENT count — the invariant point-lookup pruning relies on."""
    n = table.num_buckets
    for b_str, entries in table.manifest["buckets"].items():
        df = table._read_files(entries, table.manifest["current_schema_id"])
        bad = df.where(
            bucket_expr(table.key_columns, n) != F.lit(int(b_str))
        ).count()
        assert bad == 0, f"bucket {b_str}: {bad} misrouted rows under n={n}"


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
@pytest.mark.parametrize("new_count", [32, 5])  # grow (multiple) and shrink
def test_rebucket_preserves_image_and_reroutes(spark, tmpdir_path, merge_mode, new_count):
    table = _make(spark, f"{tmpdir_path}/t", merge_mode=merge_mode)
    _seed(spark, table)
    table.merge_cdc(
        _changes(spark, [("r1", "p1", None, "D", 1000), ("r2", "p2", "upd", "U", 1001)]),
        "b2",
    )
    before = _state(table)
    v_before = table.version

    table.rebucket(new_count)

    assert table.num_buckets == new_count
    assert _state(table) == before
    assert set(map(int, table.manifest["buckets"])) <= set(range(new_count))
    _rows_in_declared_buckets(table)
    # single atomic commit, self-describing
    assert table.version == v_before + 1
    op = table.history()[0]["op"]
    assert op == {"type": "rebucket", "from": 8, "to": new_count}
    # time travel to the pre-rebucket version still reads the old layout
    old = LakeTable(spark, table.path, version=v_before)
    assert old.num_buckets == 8
    assert _state(old) == before


def test_rebucket_mor_folds_deltas_and_keeps_version_gate(spark, tmpdir_path):
    table = _make(spark, f"{tmpdir_path}/t", merge_mode="mor")
    _seed(spark, table, n=20)
    table.merge_cdc(_changes(spark, [("r0", "p0", None, "D", 500)]), "del")
    assert table.delta_file_counts(), "precondition: MOR deltas present"

    table.rebucket(16)

    # the rewrite folded every delta into base files
    assert table.delta_file_counts() == {}
    # ...but carried the tombstone: a stale insert below the delete's seq
    # is still gated after the reshard
    table.merge_cdc(_changes(spark, [("r0", "p0", "stale", "I", 400)]), "late")
    assert ("r0", "p0") not in _state(table)
    # and a genuinely newer event resurrects the key under the new routing
    table.merge_cdc(_changes(spark, [("r0", "p0", "fresh", "I", 600)]), "new")
    assert _state(table)[("r0", "p0")] == "fresh"
    _rows_in_declared_buckets(table)


def test_rebucket_point_lookup_routes_by_new_count(spark, tmpdir_path):
    table = _make(spark, f"{tmpdir_path}/t")
    _seed(spark, table)
    table.rebucket(32)
    # the planner's single-bucket route under the NEW count holds the key
    route = table._buckets_for_key_combos([{"repo": "r3", "path": "p3"}])
    assert route is not None and len(route) == 1
    b = route[0]
    assert 0 <= b < 32
    hit = (
        table.read_internal(buckets=[b])
        .where((F.col("repo") == "r3") & (F.col("path") == "p3"))
        .count()
    )
    assert hit == 1
    # and the user-facing pinned read returns exactly the row
    got = table.read(where="repo = 'r3' AND path = 'p3'").collect()
    assert [(r["repo"], r["path"]) for r in got] == [("r3", "p3")]


def test_rebucket_validation_and_empty_table(spark, tmpdir_path):
    table = _make(spark, f"{tmpdir_path}/t")
    for bad in (0, -4, 8):  # 8 == current count: a no-op is a caller bug
        with pytest.raises(ValueError):
            table.rebucket(bad)
    # empty table: pure metadata flip
    table.rebucket(64)
    assert table.num_buckets == 64
    assert table.read().count() == 0
    # merges after the flip land under the new count
    _seed(spark, table, n=10)
    _rows_in_declared_buckets(table)


def test_expire_snapshots_grace_spares_inflight_writes(spark, tmpdir_path):
    table = _make(spark, f"{tmpdir_path}/t")
    _seed(spark, table, n=10)
    # an in-flight writer has spilled its commit dir but not yet flipped
    # the manifest pointer: the file is unreferenced, NOT an orphan
    inflight_dir = os.path.join(table.path, "data", "inflightuuid", "__bucket=0")
    os.makedirs(inflight_dir)
    inflight = os.path.join(inflight_dir, "part-0.parquet")
    with open(inflight, "wb") as f:
        f.write(b"PAR1 not really parquet")
    removed = table.expire_snapshots(keep_last=1, grace_seconds=3600)
    assert os.path.exists(inflight), "grace window must spare fresh files"
    # once the file ages past the window it is a true orphan (the write
    # died without committing) and the next expiry reclaims it
    old = time.time() - 7200
    os.utime(inflight, (old, old))
    removed = table.expire_snapshots(keep_last=1, grace_seconds=3600)
    assert removed >= 1
    assert not os.path.exists(inflight)
    # table state untouched throughout
    assert table.read().count() == 10


def test_cli_maintain_rebucket(spark, tmpdir_path):
    from sap_spark import cli

    path = f"{tmpdir_path}/t"
    table = _make(spark, path)
    _seed(spark, table, n=15)

    class Args:
        pass

    args = Args()
    args.table = path
    args.compact = False
    args.expire_keep = None
    args.expire_grace = 3600.0
    args.rebucket = 16
    summary = cli.run_maintain(args, spark=spark)
    assert summary["rebucketed_to"] == 16
    assert summary["rows"] == 15
    assert LakeTable(spark, path).num_buckets == 16


def test_cli_maintain_rebucket_auto(spark, tmpdir_path):
    """--rebucket auto re-derives the count from the table's current
    payload via the creation sizing rule (min 8 at toy scale): a
    mis-sized table reshards, a right-sized one no-ops — but still
    honors a clustering request with a plain zordered rewrite."""
    from sap_spark import cli

    path = f"{tmpdir_path}/t"
    table = LakeTable.create(
        spark, path, SCHEMA, key_columns=["repo", "path"], num_buckets=3
    )
    _seed(spark, table, n=40)

    class Args:
        pass

    args = Args()
    args.table = path
    args.compact = False
    args.expire_keep = None
    args.expire_grace = 0.0
    args.zorder = None
    args.rebucket = "auto"
    summary = cli.run_maintain(args, spark=spark)
    assert summary["rebucketed_to"] == 8  # derive_num_buckets floor
    assert "rebucket_noop" not in summary
    assert LakeTable(spark, path).num_buckets == 8

    # right-sized now: auto no-ops, but a clustering request still runs
    args2 = Args()
    args2.table = path
    args2.compact = False
    args2.expire_keep = None
    args2.expire_grace = 0.0
    args2.zorder = "content"
    args2.rebucket = "auto"
    v_before = LakeTable(spark, path).version
    summary = cli.run_maintain(args2, spark=spark)
    assert summary["rebucket_noop"] is True
    assert summary["compacted"] is True and summary["zorder"] == ["content"]
    after = LakeTable(spark, path)
    assert after.num_buckets == 8
    assert after.version == v_before + 1  # one zordered rewrite, no reshard
    assert after.history()[0]["op"]["zorder"] == ["content"]

    args2.rebucket = "12x"
    with pytest.raises(SystemExit, match="integer or 'auto'"):
        cli.run_maintain(args2, spark=spark)
