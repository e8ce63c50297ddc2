"""Regression tests for the round-5 deep-review findings over the lake +
pipeline cores: key-dtype bucket-layout invariants, expire_snapshots
version safety, null-op ghost rows, flat-log token atomicity, and the
replayed-epoch fast path."""

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from sap_spark.config import EngineConfig
from sap_spark.plans.lake import LakeTable
from sap_spark.schema.compat import SchemaCompatError
from sap_spark.sources.datagen import gen_change_events
from sap_spark.streaming.pipeline import CdcPipeline, ingest_batch

from tests.folds import FOLDS, replay_with
from tests.oracle import fold_to_frame

CFG = EngineConfig().validate()

INT_KEY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)

LONG_KEY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)

REPO_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)


def _change_frame(spark, schema, rows):
    full = T.StructType(
        list(schema.fields)
        + [
            T.StructField("op", T.StringType(), True),
            T.StructField("event_seq", T.LongType(), True),
        ]
    )
    return spark.createDataFrame(rows, full)


# -- key-column widening is a layout change, not evolution -----------------


def test_key_column_widen_rejected(spark, tmpdir_path):
    """Widening a KEY column would invalidate every file's xxhash64 bucket
    placement (int and long hash differently) — the evolution gate must
    reject it instead of silently committing a schema that breaks merges,
    point-lookup pruning, and compaction."""
    table = LakeTable.create(
        spark, f"{tmpdir_path}/t", INT_KEY_SCHEMA, key_columns=["id"], num_buckets=4
    )
    version = table.version
    with pytest.raises(SchemaCompatError, match="key column"):
        table.evolve_schema(LONG_KEY_SCHEMA)
    assert table.version == version  # nothing committed

    # ... and via the merge path (the gate runs inside merge_cdc)
    wide = _change_frame(
        spark, LONG_KEY_SCHEMA, [(1, "a", "I", 1)]
    )
    with pytest.raises(SchemaCompatError, match="key column"):
        table.merge_cdc(wide, "b-widen")
    assert table.version == version

    # widening a NON-key column still evolves fine
    widened_payload = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("v", T.StringType(), True),
            T.StructField("n", T.LongType(), True),
        ]
    )
    created = LakeTable.create(
        spark,
        f"{tmpdir_path}/t2",
        T.StructType(
            [
                T.StructField("id", T.IntegerType(), False),
                T.StructField("v", T.StringType(), True),
                T.StructField("n", T.IntegerType(), True),
            ]
        ),
        key_columns=["id"],
        num_buckets=4,
    )
    assert created.evolve_schema(widened_payload)
    assert created.schema["n"].dataType == T.LongType()


# -- narrower feed key dtype must bucket like the merge ---------------------


def test_narrow_key_dtype_feed_buckets_consistently(spark, tmpdir_path):
    """Table key is long; the feed delivers int keys (plan_evolution allows
    narrower-castable). Bucket discovery must hash the CAST values exactly
    as merge_cdc does post-apply_cast_plan — before the fix the two hashed
    different dtypes, the folded batch landed outside the caller-supplied
    affected set, and every merge died on the stray-bucket guard."""
    table = LakeTable.create(
        spark, f"{tmpdir_path}/t", LONG_KEY_SCHEMA, key_columns=["id"], num_buckets=8
    )
    rows = [(i, f"v{i}", "I", i + 1) for i in range(50)]
    ints = _change_frame(
        spark,
        T.StructType(
            [
                T.StructField("id", T.IntegerType(), False),
                T.StructField("v", T.StringType(), True),
            ]
        ),
        rows,
    )
    affected = sorted(table.affected_bucket_offsets(ints, seq_column="event_seq"))
    assert table.merge_cdc(ints, "b0", affected_buckets=affected)
    got = table.read().orderBy("id").collect()
    assert [r["id"] for r in got] == list(range(50))
    # point-lookup pruning agrees too (literal is hashed at the table dtype)
    assert table.read(where="id = 7").collect()[0]["v"] == "v7"


# -- null-op events are inert, never ghost rows -----------------------------


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_null_op_event_creates_no_ghost_row(spark, tmpdir_path, merge_mode):
    """An event with op=NULL expresses no change. Before the fix the COW
    full-outer merge materialized it as a live all-null row (null payload,
    null _event_seq — which also disabled the version gate), and MOR wrote
    a null-_deleted delta."""
    table = LakeTable.create(
        spark,
        f"{tmpdir_path}/{merge_mode}",
        INT_KEY_SCHEMA,
        key_columns=["id"],
        num_buckets=4,
        merge_mode=merge_mode,
    )
    batch = _change_frame(
        spark,
        INT_KEY_SCHEMA,
        [
            (1, "a", "I", 10),
            (2, None, None, 11),  # malformed: no op — must be inert
        ],
    )
    assert table.merge_cdc(batch, "b0")
    got = table.read().orderBy("id").collect()
    assert [(r["id"], r["v"]) for r in got] == [(1, "a")]
    # the null-op key stays absent; a later real insert works normally
    assert table.merge_cdc(
        _change_frame(spark, INT_KEY_SCHEMA, [(2, "b", "I", 12)]), "b1"
    )
    got = table.read().orderBy("id").collect()
    assert [(r["id"], r["v"]) for r in got] == [(1, "a"), (2, "b")]


# -- null-op is inert at the FOLD too (batch replay ≡ incremental) ----------


@pytest.mark.parametrize("fold", list(FOLDS))
def test_null_op_inert_in_fold(spark, tmpdir_path, fold):
    """A null-op event that would win LWW must not erase the key's earlier
    valid state: batch replay (fold the whole log) and the incremental path
    (the same events split across epochs, where merge_cdc drops null-op
    rows) have to agree. Before the fix every fold let the null-op win
    and the key vanished from the one-shot replay."""

    full = T.StructType(
        list(INT_KEY_SCHEMA.fields)
        + [
            T.StructField("op", T.StringType(), True),
            T.StructField("event_seq", T.LongType(), True),
            T.StructField("delta_token", T.StringType(), True),
        ]
    )
    events = spark.createDataFrame(
        [
            (1, "a", "I", 10, "t0"),
            (1, None, None, 11, "t0"),  # malformed, later — must be inert
            (2, None, None, 12, "t0"),  # null-op only: key never exists
        ],
        full,
    )
    cfg = EngineConfig(
        key_columns=("id",),
        payload_columns=("v",),
    ).validate()
    got = replay_with(fold, events, cfg).orderBy("id").collect()
    assert [(r["id"], r["v"]) for r in got] == [(1, "a")]


# -- expire_snapshots never destroys versions newer than the handle ---------


def test_expire_from_stale_handle_keeps_newer_versions(spark, tmpdir_path):
    table = LakeTable.create(
        spark, f"{tmpdir_path}/t", INT_KEY_SCHEMA, key_columns=["id"], num_buckets=2
    )
    stale = LakeTable(spark, table.path)  # pinned at v0
    writer = LakeTable(spark, table.path)
    for i in range(3):  # v1..v3 committed AFTER the stale handle loaded
        writer.merge_cdc(
            _change_frame(spark, INT_KEY_SCHEMA, [(i, f"v{i}", "I", i + 1)]),
            f"b{i}",
        )
    latest = writer.version
    stale.expire_snapshots(keep_last=1)
    fresh = LakeTable(spark, table.path)
    assert fresh.version == latest  # no silent rollback
    got = fresh.read().orderBy("id").collect()
    assert [(r["id"], r["v"]) for r in got] == [(0, "v0"), (1, "v1"), (2, "v2")]


def test_expire_retains_pinned_time_travel_version(spark, tmpdir_path):
    table = LakeTable.create(
        spark, f"{tmpdir_path}/t", INT_KEY_SCHEMA, key_columns=["id"], num_buckets=2
    )
    for i in range(3):
        table.merge_cdc(
            _change_frame(spark, INT_KEY_SCHEMA, [(i, f"v{i}", "I", i + 1)]),
            f"b{i}",
        )
    pinned_version = table.version - 1  # v2: one behind latest
    pinned = LakeTable(spark, table.path, version=pinned_version)
    pinned.expire_snapshots(keep_last=1)
    # the pinned snapshot's manifest AND data survive (chain stays
    # contiguous from latest down to the pinned version)
    assert os.path.exists(pinned._manifest_path(pinned_version))
    re_read = LakeTable(spark, table.path, version=pinned_version)
    assert [(r["id"], r["v"]) for r in re_read.read().orderBy("id").collect()] == [
        (0, "v0"),
        (1, "v1"),
    ]
    # latest unaffected
    assert LakeTable(spark, table.path).read().count() == 3


# -- replayed epoch is a driver-side no-op before any Spark job -------------


def test_replayed_ingest_batch_noop_resets_metrics(spark, tmpdir_path):
    table = LakeTable.create(
        spark, f"{tmpdir_path}/t", REPO_SCHEMA, key_columns=["repo", "path"],
        num_buckets=4,
    )
    events = gen_change_events(spark, n_events=500, n_keys=60, events_per_token=500)
    assert ingest_batch(events, table, CFG, batch_id="e0")
    assert table.last_merge_metrics  # populated by the real merge
    version = table.version
    assert not ingest_batch(events, table, CFG, batch_id="e0")
    assert table.version == version
    # mirrors merge_cdc's replay contract: stale timings never leak into
    # the replayed epoch's lineage record
    assert table.last_merge_metrics is None


# -- flat (non-token-partitioned) change logs make steady progress ----------


def test_flat_log_applies_per_epoch(spark, tmpdir_path):
    """Files sitting directly in the log root have no token directory;
    each is its own delivery unit. Before the fix the root was treated as
    one giant always-growing token: every epoch deferred its whole slice,
    an appended log made zero progress forever, and a static backlog was
    rammed into a single unbounded final epoch."""
    all_events = gen_change_events(
        spark, n_events=3000, n_keys=200, events_per_token=500
    ).cache()
    events = all_events.where(F.col("event_seq") < 2000)
    more = all_events.where(F.col("event_seq") >= 2000)
    log_dir = f"{tmpdir_path}/flatlog"
    events.repartition(4, "delta_token").write.parquet(log_dir)
    n_files = len(
        [f for f in os.listdir(log_dir) if f.endswith(".parquet")]
    )
    assert n_files >= 2  # the test needs multiple epochs to mean anything

    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", REPO_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    pipe = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=1,  # one flat file per epoch
        pipeline_id="flat",
    )
    pipe.run_available_now(timeout_sec=300)
    records = pipe.lineage()
    applied = [r for r in records if r["applied"]]
    # every epoch applied its slice; nothing was deferred
    assert len(applied) == n_files
    assert all(r["deferred_files"] == 0 for r in records)

    table = LakeTable(spark, table.path)
    got = table.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got.equals(fold_to_frame(events.toPandas()))

    # appended flat files are picked up by a resumed run (the zero-progress
    # failure mode: before the fix these would defer forever)
    more.repartition(2, "delta_token").write.mode("append").parquet(log_dir)
    pipe2 = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=1,
        pipeline_id="flat",
    )
    pipe2.run_available_now(timeout_sec=300)
    table = LakeTable(spark, table.path)
    got = table.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got.equals(fold_to_frame(all_events.toPandas()))
