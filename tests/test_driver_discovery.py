"""Driver discovery (one collect, folded in Arrow) against the Spark jobs it
replaces for small batches: the same cancel set, winners and bucket offsets
for every key type, and the single-job, nothing-persisted shape it exists
for. ``streaming/pipeline.DRIVER_DISCOVERY_MAX_BYTES`` set to 0 forces a
batch onto the Spark path."""

from __future__ import annotations

import datetime
import math
import shutil
import tempfile
from collections import Counter
from decimal import Decimal

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from sap_spark.config import EngineConfig
from sap_spark.plans.lake import LakeTable
from sap_spark.sources.datagen import gen_change_events, write_change_log
from sap_spark.streaming import pipeline

_UTC = datetime.timezone.utc

# key type -> (Spark key fields, a pool of key values)
KEY_KINDS = {
    "string": ([("k", T.StringType())], [("a",), ("b",), ("A",), ("",)]),
    "int": ([("k", T.IntegerType())], [(0,), (1,), (-1,), (2**31 - 1,)]),
    "bigint": ([("k", T.LongType())], [(0,), (7,), (2**40,)]),
    "decimal": (
        [("k", T.DecimalType(10, 2))],
        [(Decimal("1.10"),), (Decimal("0.00"),), (Decimal("-3.25"),)],
    ),
    "date": (
        [("k", T.DateType())],
        [(datetime.date(2020, 1, 1),), (datetime.date(1999, 12, 31),)],
    ),
    "timestamp": (
        [("k", T.TimestampType())],
        [
            (datetime.datetime(2020, 1, 1, tzinfo=_UTC),),
            (datetime.datetime(2020, 1, 1, 0, 0, 1, tzinfo=_UTC),),
        ],
    ),
    "double": (
        [("k", T.DoubleType())],
        [(0.0,), (-0.0,), (float("nan"),), (None,), (1.5,)],
    ),
    "string_int": (
        [("k1", T.StringType()), ("k2", T.IntegerType())],
        [("a", 1), ("a", 2), ("b", 1)],
    ),
}

ENVELOPE = [
    ("delta_token", T.StringType()),
    ("event_seq", T.LongType()),
    ("op", T.StringType()),
    ("rocancel", T.BooleanType()),
    ("cancel_seq", T.LongType()),
]


@st.composite
def key_logs(draw, pool):
    """Rows of (token, seq, op, rocancel, cancel_seq, *key, v) with every
    envelope corner discovery must agree on: cross-key ROCANCEL (any
    earlier seq of the token, whatever its key), NULL rocancel, rocancel
    with NULL cancel_seq, NULL op, later-token redeliveries and
    within-token duplicates."""
    n_events = draw(st.integers(1, 24))
    token_size = draw(st.integers(1, 6))
    rows = []
    for seq in range(n_events):
        tok = seq // token_size
        key = draw(st.sampled_from(pool))
        op = draw(st.sampled_from(["I", "U", "D", None]))
        earlier = [r[1] for r in rows if r[0] == f"D{tok:03d}"]
        kind = draw(st.sampled_from(
            ["plain"] * 4 + ["cancel", "null_flag", "cancel_null_seq"]
        ))
        rocancel, cancel_seq = False, None
        if kind == "cancel" and earlier:
            rocancel, cancel_seq = True, draw(st.sampled_from(earlier))
        elif kind == "null_flag":
            rocancel = None
        elif kind == "cancel_null_seq":
            rocancel = True
        rows.append((f"D{tok:03d}", seq, op, rocancel, cancel_seq, *key, f"v{seq}"))
    for r in list(rows):
        again = draw(st.integers(0, 5))
        if again == 0:  # within-token duplicate delivery
            rows.append(r)
        elif again == 1:  # redelivered under a later token
            rows.append((f"D{int(r[0][1:]) + 1:03d}", *r[1:]))
    return rows


@pytest.fixture(scope="module")
def tables(spark):
    """One empty table per key type: discovery buckets by its
    ``bucket_column``."""
    wd = tempfile.mkdtemp(prefix="driver_discovery_")
    out = {}
    for name, (keys, _) in KEY_KINDS.items():
        schema = T.StructType(
            [T.StructField(k, t, True) for k, t in keys]
            + [T.StructField("v", T.StringType(), True)]
        )
        out[name] = LakeTable.create(
            spark, f"{wd}/{name}", schema, key_columns=[k for k, _ in keys],
            num_buckets=4,
        )
    yield out
    shutil.rmtree(wd, ignore_errors=True)


def _canon(v):
    """A comparable stand-in for a collected value: every NaN is one
    value (Python's NaN != NaN) and -0.0 is 0.0."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    return v


def _found(spark, events, table, cfg, monkeypatch, cap):
    monkeypatch.setattr(pipeline, "DRIVER_DISCOVERY_MAX_BYTES", cap)
    with pipeline.discover(events, table, cfg) as found:
        winners = Counter(
            tuple(_canon(v) for v in r) for r in found.winners.collect()
        )
        cancelled = (
            None if found.cancelled is None
            else sorted(r[0] for r in found.cancelled.collect())
        )
        return found.on, winners, cancelled, found.offsets


@pytest.mark.parametrize("kind", list(KEY_KINDS))
@given(data=st.data())
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_driver_discovery_matches_spark(spark, tables, monkeypatch, kind, data):
    keys, pool = KEY_KINDS[kind]
    rows = data.draw(key_logs(pool), label="log")
    schema = T.StructType(
        [T.StructField(c, t, True) for c, t in [*ENVELOPE, *keys, ("v", T.StringType())]]
    )
    # through Arrow, so Catalyst knows the batch's size (a frame built
    # from a Python list has no estimate and always takes the Spark path)
    arrow = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], to_arrow_schema(schema)
    )
    events = spark.createDataFrame(arrow, schema)
    cfg = EngineConfig(
        key_columns=tuple(k for k, _ in keys), payload_columns=("v",),
        num_buckets=4,
    ).validate()
    table = tables[kind]
    on_d, winners_d, cancelled_d, offsets_d = _found(
        spark, events, table, cfg, monkeypatch, 1 << 40
    )
    on_s, winners_s, cancelled_s, offsets_s = _found(
        spark, events, table, cfg, monkeypatch, 0
    )
    assert (on_d, on_s) == ("driver", "tasks")
    assert cancelled_d == cancelled_s
    assert winners_d == winners_s, rows
    # one winner per key: merge_cdc's <=1-row contract
    per_key = Counter(w[: len(keys)] for w in winners_d.elements())
    assert max(per_key.values(), default=1) == 1, rows
    assert offsets_d == offsets_s, rows


def test_small_batch_discovers_in_one_job_and_persists_nothing(
    spark, tmpdir_path, monkeypatch
):
    schema = T.StructType(
        [T.StructField(c, T.StringType(), c in ("repo", "path"))
         for c in ("repo", "path", "commit", "lang", "content")]
    )
    table = LakeTable.create(
        spark, f"{tmpdir_path}/t", schema, key_columns=["repo", "path"],
        num_buckets=8,
    )
    cfg = EngineConfig(num_buckets=8).validate()
    # the epoch's shape in the pipeline: a plain scan of its log files
    write_change_log(
        gen_change_events(spark, n_events=3000, n_keys=200,
                          events_per_token=1000),
        f"{tmpdir_path}/log",
    )
    events = spark.read.parquet(f"{tmpdir_path}/log")
    persisted = []
    frame_cls = type(events)  # the classic DataFrame, which defines persist
    real_persist = frame_cls.persist

    def spy(df, *args, **kwargs):
        persisted.append(df)
        return real_persist(df, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", spy)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    with pipeline.discover(events, table, cfg) as found:
        assert len(set(tracker.getJobIdsForGroup()) - before) == 1
        assert found.on == "driver" and found.offsets
    assert persisted == []


def test_list_built_batch_discovers_on_tasks(spark, tmpdir_path):
    """A frame built from a Python list has no Catalyst size estimate
    (``Long.MaxValue``), so even a 2-row batch discovers on the task path;
    the same rows built through Arrow discover on the driver, and both
    leave the same table image."""
    schema = T.StructType(
        [T.StructField(c, t, True) for c, t in ENVELOPE]
        + [T.StructField(c, T.StringType(), True) for c in ("repo", "path", "content")]
    )
    rows = [
        ("D000", 1, "I", False, None, "r", "a", "x"),
        ("D000", 2, "I", False, None, "r", "b", "y"),
    ]
    cfg = EngineConfig(payload_columns=("content",), num_buckets=4).validate()
    built = {
        "tasks": spark.createDataFrame(rows, schema),
        "driver": spark.createDataFrame(
            pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in rows], to_arrow_schema(schema)
            ),
            schema,
        ),
    }
    images = {}
    for on, events in built.items():
        table = LakeTable.create(
            spark, f"{tmpdir_path}/{on}", schema[-3:], key_columns=["repo", "path"],
            num_buckets=4,
        )
        metrics: dict = {}
        assert pipeline.ingest_batch(events, table, cfg, "b0", metrics)
        assert metrics["discovery_on"] == on
        images[on] = sorted(map(tuple, LakeTable(spark, table.path).read().collect()))
    assert images["tasks"] == images["driver"] == [("r", "a", "x"), ("r", "b", "y")]
