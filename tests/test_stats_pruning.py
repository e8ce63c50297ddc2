"""Manifest file statistics + predicate file skipping (plans/stats.py).

The contract under test: ``read(where=...)`` is ALWAYS semantically
identical to ``read().where(where)``; pruning only changes which files
Spark opens. The MOR phantom-row trap (pruning fold inputs by non-key
predicates) gets its own adversarial case.
"""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.plans.lake import LakeTable
from sap_spark.plans.stats import (
    file_may_match,
    key_membership_literals,
    parse_conjuncts,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("name", T.StringType()),
    ]
)


def _mk(spark, path, **kw):
    kw.setdefault("num_buckets", 4)
    kw.setdefault("stats_columns", ["k", "v", "ts", "_event_seq"])
    return LakeTable.create(spark, path, SCHEMA, ["k"], **kw)


def _rows(spark, n, v_of, ts_base="2026-01-01T00:00:00"):
    base = datetime.fromisoformat(ts_base)
    return spark.range(n).select(
        F.col("id").alias("k"),
        v_of(F.col("id")).alias("v"),
        (F.lit(base) + F.make_interval(hours=F.col("id"))).alias("ts"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )


# ---------------------------------------------------------------------------
# unit: conjunct parsing
# ---------------------------------------------------------------------------


def test_parse_conjuncts_shapes(spark):
    assert parse_conjuncts(spark, "v >= 90.0 AND k = 3 AND name = 'x''y'") == [
        ("v", ">=", 90.0),
        ("k", "=", 3),
        ("name", "=", "x'y"),
    ]
    # == normalizes; != / <> parse away (ranges prove nothing)
    assert parse_conjuncts(spark, "k == 5 AND v != 2") == [("k", "=", 5)]
    # unparseable conjuncts drop INDIVIDUALLY (the rest still prune)
    assert parse_conjuncts(spark, "lower(name) = 'a' AND k > 7") == [
        ("k", ">", 7)
    ]
    assert parse_conjuncts(spark, "ts >= '2026-01-01' AND name IS NULL") == [
        ("ts", ">=", "2026-01-01"),
        ("name", "isnull", None),  # carried since the null-count layer
    ]
    # 'AND' inside a quoted literal must not split
    assert parse_conjuncts(spark, "name = 'a AND b'") == [
        ("name", "=", "a AND b")
    ]
    # reversed comparison flips
    assert parse_conjuncts(spark, "7 < k") == [("k", ">", 7)]
    # NULL literal / column-to-column / struct path: skipped
    assert parse_conjuncts(spark, "k = NULL AND v > 1") == [("v", ">", 1)]
    assert parse_conjuncts(spark, "k = v AND v > 1") == [("v", ">", 1)]
    assert parse_conjuncts(spark, "s.a = 1 AND v > 1") == [("v", ">", 1)]


def test_parse_conjuncts_bails_on_disjunction_shapes(spark):
    # nothing on the And-spine is a plain comparison -> nothing prunes
    assert parse_conjuncts(spark, "v >= 90 OR k = 1") == []
    # AND binds tighter than OR: the whole thing is one Or node
    assert parse_conjuncts(spark, "k = 1 AND v > 2 OR name = 'x'") == []
    assert parse_conjuncts(spark, "k = 1 AND (v > 2 OR name = 'x')") == [
        ("k", "=", 1)
    ]
    # shapes outside the grammar drop individually, siblings survive
    assert parse_conjuncts(spark, "NOT (k = 1)") == []
    assert parse_conjuncts(spark, "(k = 1) AND v > 2") == [
        ("k", "=", 1),
        ("v", ">", 2),
    ]
    assert parse_conjuncts(spark, "k IN (1, 2)") == [
        ("k", "in", (1, 2))  # carried since the IN-list layer
    ]
    assert parse_conjuncts(spark, "v BETWEEN 1 AND 2") == []
    assert parse_conjuncts(spark, "k = 3 AND v BETWEEN 1 AND 2") == [
        ("k", "=", 3)
    ]
    # an AND nested in function args must never split a fake conjunct out
    assert parse_conjuncts(spark, "if(x AND y = 1 AND k = 2, 1, 0) = 0") == []
    assert parse_conjuncts(spark, "k = 1 AND") == []  # invalid SQL: refuse
    assert parse_conjuncts(spark, "k = 1)") == []
    assert parse_conjuncts(spark, "name = 'or not (between)' AND k = 1") == [
        ("name", "=", "or not (between)"),
        ("k", "=", 1),
    ]


def test_parse_conjuncts_spark_grammar_corners(spark):
    """The misparse class the regex approach couldn't survive: CASE
    WHEN nests ANDs with no parens; backslash escapes extend a string
    literal across a naive quote scan. Spark's parser decides both."""
    # the k = 2 here is NOT required (it's inside the CASE) — a regex
    # AND-splitter extracted it and silently dropped k!=2 rows
    assert (
        parse_conjuncts(
            spark, "case when v = 1 and k = 2 and v = 3 then 0 else 1 end = 1"
        )
        == []
    )
    # one literal containing \' AND — no conjunct, no split
    assert parse_conjuncts(spark, "name = 'a\\' AND v > 100'") == [
        ("name", "=", "a' AND v > 100")
    ]


def test_file_may_match_bounds():
    stats = {"v": [10.0, 20.0], "name": ["aa", "mm"]}
    assert file_may_match(stats, [("v", ">=", 15)])
    # upper-bound pruning on a FLOAT bound needs NaN-absence proof
    # (tests/test_nan_stats.py) — without it the file is kept...
    assert file_may_match(stats, [("v", ">", 20.0)])
    # ...and with a recorded NaN count of 0 it prunes as before
    assert not file_may_match(stats, [("v", ">", 20.0)], nan_counts={"v": 0})
    assert not file_may_match(stats, [("v", "<", 10.0)])
    assert file_may_match(stats, [("v", "<=", 10.0)])
    assert not file_may_match(stats, [("v", "=", 25.0)])
    assert not file_may_match(stats, [("name", "=", "zz")])
    # missing column / incomparable literal: keep
    assert file_may_match(stats, [("other", "=", 1)])
    assert file_may_match(stats, [("name", "=", 7)])
    # datetime bounds vs ISO string literals (JSON round-trip form)
    ts_stats = {
        "ts": [
            {"$ts": "2026-01-01T00:00:00"},
            {"$ts": "2026-01-02T00:00:00"},
        ]
    }
    assert file_may_match(ts_stats, [("ts", ">=", "2026-01-01T12:00:00")])
    assert not file_may_match(ts_stats, [("ts", ">", "2026-01-02T00:00:00")])
    assert file_may_match(ts_stats, [("ts", ">=", "not-a-date")])
    # int literal vs double bounds compares like Spark (cast to double,
    # lossy above 2^53) — exact int math would wrongly prune this file
    big = float(1 << 53)
    assert file_may_match({"v": [big, big]}, [("v", "=", (1 << 53) + 1)])


def test_key_equality_literals():
    # an equality pin on every key column resolves to one key combo
    assert key_membership_literals([("k", "=", 5)], ["k"]) == [{"k": 5}]
    assert key_membership_literals([("k", ">", 5)], ["k"]) is None
    assert key_membership_literals([("a", "=", 1)], ["a", "b"]) is None
    # conflicting equalities: honest None (post-filter yields empty)
    assert key_membership_literals([("k", "=", 1), ("k", "=", 2)], ["k"]) is None


# ---------------------------------------------------------------------------
# integration: bounds recorded, files skipped, semantics preserved
# ---------------------------------------------------------------------------


def test_stats_recorded_on_commit(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.overwrite(_rows(spark, 50, lambda c: c * 1.0), batch_id="b0")
    t = LakeTable(spark, t.path)
    entries = [e for es in t.manifest["buckets"].values() for e in es]
    assert entries and all("stats" in e for e in entries)
    for e in entries:
        lo, hi = e["stats"]["k"]
        assert 0 <= lo <= hi <= 49
        assert "$ts" in e["stats"]["ts"][0]
        # initial load: _event_seq is all-null -> honestly absent
        assert "_event_seq" not in e["stats"]


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.overwrite(_rows(spark, 200, lambda c: c * 1.0), batch_id="b0")
    t = LakeTable(spark, t.path)
    all_files = set(t.read().inputFiles())
    got = t.read(where="k = 7")
    assert len(got.inputFiles()) < len(all_files)
    assert [r["k"] for r in got.collect()] == [7]
    # Spark resolves identifiers case-insensitively; pruning must too
    up = t.read(where="K = 7")
    assert len(up.inputFiles()) < len(all_files)
    assert [r["k"] for r in up.collect()] == [7]
    # conflicting equality: no files pruned wrongly, honest empty result
    assert t.read(where="k = 7 AND k = 8").count() == 0


def test_time_window_skips_files_with_sorted_writes(spark, tmp_path):
    """The 100 TB shape: ts-clustered writes spill multiple files per
    bucket with disjoint ts ranges; a time-window predicate opens only
    the overlapping ones."""
    t = _mk(spark, str(tmp_path / "t"), num_buckets=2, sort_columns=["ts"])
    old = spark.conf.get("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "40")
    try:
        t.overwrite(_rows(spark, 400, lambda c: c * 1.0), batch_id="b0")
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", old)
    t = LakeTable(spark, t.path)
    n_total = len(t.read().inputFiles())
    assert n_total > 4  # several files per bucket
    where = "ts >= '2026-01-15 00:00:00'"  # hours 336+ of 400
    got = t.read(where=where)
    expect = t.read().where(where)
    assert len(got.inputFiles()) < n_total / 2
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in expect.collect()
    )


def test_mor_nonkey_pruning_is_fold_safe(spark, tmp_path):
    """THE trap: key 1's latest version (v=5) fails `v >= 50`, an older
    version (v=50) passes. Naive per-file pruning would drop the
    latest-version file and resurrect the old row. read(where=) must
    return the same (empty) result as read().where()."""
    t = _mk(spark, str(tmp_path / "t"), merge_mode="mor")

    def batch(v, seq):
        return spark.createDataFrame(
            [(1, v, datetime(2026, 1, 1), "a", "U", seq)],
            "k long, v double, ts timestamp, name string, op string, event_seq long",
        )

    t.merge_cdc(batch(50.0, 1), batch_id="e1")
    t.merge_cdc(batch(5.0, 2), batch_id="e2")
    t = LakeTable(spark, t.path)
    # both delta files really do carry contradictory v bounds — the
    # naive prune WOULD have fired
    entries = [
        e
        for es in t.manifest["buckets"].values()
        for e in es
        if e.get("kind") == "delta"
    ]
    assert len(entries) == 2
    fires = [
        not file_may_match(
            e["stats"], [("v", ">=", 50.0)], nan_counts=e.get("nan")
        )
        for e in entries
    ]
    assert sorted(fires) == [False, True]
    got = t.read(where="v >= 50.0")
    # non-key conjunct in a delta-bearing bucket: nothing pruned...
    opened = {f.removeprefix("file://") for f in got.inputFiles()}
    assert opened >= {e["path"] for e in entries}
    # ...and no phantom row
    assert got.count() == 0
    assert t.read().where("v >= 50.0").count() == 0
    # key conjuncts still prune delta files (fold groups by key)
    assert t.read(where="k = 99").count() == 0


def test_where_equals_postfilter_under_updates_and_deletes(spark, tmp_path):
    """Semantic identity sweep: read(where) == read().where() across
    cow/mor after updates + deletes, for every predicate shape the
    parser handles (and a few it refuses)."""
    for mode in ("cow", "mor"):
        t = _mk(spark, str(tmp_path / mode), merge_mode=mode)
        t.overwrite(_rows(spark, 120, lambda c: c * 2.0), batch_id="b0")
        t = LakeTable(spark, t.path)
        upd = spark.createDataFrame(
            [(k, 999.0, datetime(2026, 2, 1), "upd", "U", 10 + k) for k in range(0, 40)]
            + [(k, None, None, None, "D", 200 + k) for k in range(100, 120)],
            "k long, v double, ts timestamp, name string, op string, event_seq long",
        )
        t.merge_cdc(upd, batch_id="b1")
        t = LakeTable(spark, t.path)
        predicates = [
            "v >= 200.0",
            "v = 999.0",
            "k = 5",
            "k = 110",  # deleted
            "k >= 100",
            "ts >= '2026-01-31 00:00:00'",
            "name = 'upd' AND k < 10",
            "v > 100.0 OR k = 2",  # parser bails; post-filter alone
            "k IN (1, 2, 3)",
        ]
        for where in predicates:
            got = sorted(map(tuple, t.read(where=where).collect()))
            expect = sorted(map(tuple, t.read().where(where).collect()))
            assert got == expect, (mode, where)


def test_old_manifests_without_stats_still_read(spark, tmp_path):
    """Entries written before the feature carry no stats: never pruned,
    never crash."""
    t = _mk(spark, str(tmp_path / "t"))
    t.overwrite(_rows(spark, 30, lambda c: c * 1.0), batch_id="b0")
    t = LakeTable(spark, t.path)
    # simulate a pre-stats manifest
    import json

    m = json.loads(json.dumps(t.manifest))
    for es in m["buckets"].values():
        for e in es:
            e.pop("stats", None)
    m["properties"].pop("stats_columns", None)
    t._commit(m)
    t = LakeTable(spark, t.path)
    assert t.read(where="v >= 29.0").count() == 1
    assert t.stats_columns == ["k", "_event_seq"]  # legacy default


def test_create_validates_stats_and_sort_columns(spark, tmp_path):
    with pytest.raises(ValueError, match="stats_columns"):
        _mk(spark, str(tmp_path / "a"), stats_columns=["nope"])
    with pytest.raises(ValueError, match="sort_columns"):
        _mk(spark, str(tmp_path / "b"), sort_columns=["nope"])
    t = _mk(spark, str(tmp_path / "c"), stats_columns=[])
    t.overwrite(_rows(spark, 10, lambda c: c * 1.0), batch_id="b0")
    t = LakeTable(spark, t.path)
    entries = [e for es in t.manifest["buckets"].values() for e in es]
    assert entries and all("stats" not in e for e in entries)


def test_delta_entries_carry_seq_bounds(spark, tmp_path):
    """MOR delta files are per-epoch: their _event_seq bounds document
    exactly which change window each file covers (ops/debug value now;
    the seam an incremental reader prunes on later)."""
    t = _mk(spark, str(tmp_path / "t"), merge_mode="mor")
    ch = spark.createDataFrame(
        [(k, 1.0, datetime(2026, 1, 1), "x", "U", 100 + k) for k in range(8)],
        "k long, v double, ts timestamp, name string, op string, event_seq long",
    )
    t.merge_cdc(ch, batch_id="e1")
    t = LakeTable(spark, t.path)
    deltas = [
        e
        for es in t.manifest["buckets"].values()
        for e in es
        if e.get("kind") == "delta"
    ]
    assert deltas
    for e in deltas:
        lo, hi = e["stats"]["_event_seq"]
        assert 100 <= lo <= hi <= 107


def test_decimal_literal_exact_vs_int_bounds():
    """Spark compares integral-vs-decimal AS decimal (exact); float()ing
    the literal would mis-prune above 2^53."""
    from decimal import Decimal

    big = (1 << 53) + 1
    stats = {"k": [big, big]}
    # k > 9007199254740992.5 is TRUE for k = 2^53+1 under decimal math
    assert file_may_match(stats, [("k", ">", Decimal("9007199254740992.5"))])
    # ...and a double column still uses double semantics
    assert file_may_match({"v": [0.1, 0.1]}, [("v", "=", Decimal("0.1"))])


def test_timestamp_pruning_disabled_off_utc():
    """A naive literal's meaning depends on the session zone; with a
    non-UTC session the aware-bound shortcut must keep the file."""
    ts_stats = {
        "ts": [
            {"$ts": "2026-01-01T00:00:00+00:00"},
            {"$ts": "2026-01-01T05:00:00+00:00"},
        ]
    }
    cj = [("ts", ">=", "2026-01-15 09:00:00")]
    assert not file_may_match(ts_stats, cj, ts_utc_session=True)
    assert file_may_match(ts_stats, cj, ts_utc_session=False)


def test_internal_column_predicate_parity(spark, tmp_path):
    """Law 8 exactly: a predicate naming an internal column must behave
    identically through read(where=) and read().where(). (Spark's
    missing-column resolution makes both SUCCEED, resolving the
    internal column against the pre-select plan — the point is they
    agree, which requires read(where=) to filter at the same altitude
    as the user's own .where, i.e. after the user-column select.)"""
    t = _mk(spark, str(tmp_path / "t"))
    t.overwrite(_rows(spark, 10, lambda c: c * 1.0), batch_id="b0")
    t = LakeTable(spark, t.path)
    for pred in ("_event_seq > 0", "_deleted = false"):
        got = sorted(map(tuple, t.read(where=pred).collect()))
        expect = sorted(map(tuple, t.read().where(pred).collect()))
        assert got == expect, pred
    # nonexistent column raises identically on both paths
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        t.read().where("no_such_col > 0").collect()
    with pytest.raises(AnalysisException):
        t.read(where="no_such_col > 0").collect()
