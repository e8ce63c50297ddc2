"""In-pipeline auto-compaction for merge-on-read tables.

A long MOR replay appends one delta file set per epoch per touched
bucket; unbounded, the read-time fold's input grows with epoch count.
``CdcPipeline(auto_compact_delta_files=N)`` folds any bucket reaching N
delta entries into its base right after the epoch's merge — WITH
tombstones retained, because the tombstone's event_seq is the version
gate that keeps a late out-of-order event from resurrecting a deleted
key. Full tombstone purge stays a maintenance-time op below the
out-of-order low watermark.
"""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from sap_spark.config import EngineConfig
from sap_spark.plans.lake import DELETED_COL, LakeTable
from sap_spark.sources.datagen import gen_change_events, write_change_log
from sap_spark.streaming.pipeline import CdcPipeline

from tests.oracle import fold_to_frame

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


def _mk_table(spark, path, mode="mor"):
    return LakeTable.create(
        spark, path, SCHEMA, key_columns=["repo", "path"],
        num_buckets=4, merge_mode=mode,
    )


def _delta_counts(table: LakeTable) -> dict[int, int]:
    # the shared probe compact()/the pipeline use; omits zero-count buckets
    return table.delta_file_counts()


def test_auto_compact_bounds_delta_files_and_matches_oracle(
    spark, tmpdir_path
):
    """A many-epoch MOR replay with auto_compact_delta_files=2 ends with
    every bucket under the bound, and the final state is still exactly
    the sequential fold."""
    events = gen_change_events(
        spark, n_events=6000, n_keys=500, events_per_token=500
    ).cache()
    oracle = fold_to_frame(events.toPandas())
    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir)

    table = _mk_table(spark, f"{tmpdir_path}/repos")
    pipe = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=1, pipeline_id="autocompact",
        auto_compact_delta_files=2,
    )
    pipe.run_available_now(timeout_sec=600)

    table = LakeTable(spark, table.path)
    got = table.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got.equals(oracle)
    # every bucket's delta accumulation is bounded by the threshold
    # (an epoch adds at most one delta set per bucket past a fold)
    counts = _delta_counts(table)
    assert max(counts.values(), default=0) <= 2, counts
    # lineage recorded at least one compaction with its wall time
    compactions = [
        r for r in pipe.lineage() if r.get("compacted_buckets")
    ]
    assert compactions
    assert all(r["compact_sec"] > 0 for r in compactions)

    # versus the same replay WITHOUT auto-compaction: deltas accumulate
    table2 = _mk_table(spark, f"{tmpdir_path}/repos_nc")
    pipe2 = CdcPipeline(
        spark, CFG, table2, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt_nc",
        max_files_per_trigger=1, pipeline_id="nocompact",
    )
    pipe2.run_available_now(timeout_sec=600)
    counts2 = _delta_counts(LakeTable(spark, table2.path))
    assert max(counts2.values()) > 2, counts2


def test_compact_keep_tombstones_preserves_version_gate(spark, tmpdir_path):
    """THE reason auto-compaction retains tombstones: delete at seq 10,
    compact, then a late out-of-order event at seq 5 must NOT resurrect
    the key. A purging compact (maintenance, below the low watermark by
    contract) removes the gate — demonstrated as the contrast case."""
    for purge, expect_rows in ((False, 0), (True, 1)):
        table = _mk_table(spark, f"{tmpdir_path}/t_purge_{purge}")
        batch1 = spark.createDataFrame(
            [
                ("r", "p", "c1", "py", "v1", 1, "I"),
                ("r", "p", None, None, None, 10, "D"),
            ],
            "repo string, path string, commit string, lang string, "
            "content string, event_seq long, op string",
        )
        # fold_changes semantics: merge_cdc takes <=1 row/key — apply the
        # winner (the delete at seq 10) directly
        table.merge_cdc(
            batch1.where(F.col("event_seq") == 10), "b1",
            op_column="op", seq_column="event_seq",
        )
        rewritten = table.compact(purge_tombstones=purge)
        if purge:
            assert rewritten  # tombstone bucket was found and purged
        # late out-of-order delta unit: an update that was superseded
        late = spark.createDataFrame(
            [("r", "p", "c0", "py", "stale", 5, "U")],
            batch1.schema,
        )
        table.merge_cdc(late, "b2", op_column="op", seq_column="event_seq")
        assert table.read().count() == expect_rows, (
            f"purge_tombstones={purge}"
        )


def test_compact_keep_tombstones_is_observably_noop(spark, tmpdir_path):
    """Tombstone-retaining compaction at an arbitrary epoch boundary
    changes nothing observable: read(), internal seq/deleted columns,
    and subsequent merges behave identically."""
    events = gen_change_events(
        spark, n_events=2000, n_keys=200, events_per_token=500
    ).cache()
    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir)
    frames = {}
    for compact_mid, name in ((False, "plain"), (True, "compacted")):
        table = _mk_table(spark, f"{tmpdir_path}/{name}")
        pipe = CdcPipeline(
            spark, CFG, table, log_dir,
            checkpoint_dir=f"{tmpdir_path}/ckpt_{name}",
            max_files_per_trigger=2, pipeline_id=f"noop-{name}",
        )
        pipe.run_available_now(timeout_sec=600)
        t = LakeTable(spark, table.path)
        if compact_mid:
            t.compact(purge_tombstones=False)
            # tombstones survived the fold into the base files
            tomb = (
                t.read_internal()
                .where(F.coalesce(F.col(DELETED_COL), F.lit(False)))
                .count()
            )
            assert tomb > 0, "expected retained tombstones"
            assert _delta_counts(t) == {}
        frames[name] = (
            t.read_internal().orderBy("repo", "path")
            .toPandas().reset_index(drop=True)
        )
    assert frames["plain"].equals(frames["compacted"])


def test_auto_compact_requires_positive_threshold(spark, tmpdir_path):
    table = _mk_table(spark, f"{tmpdir_path}/t")
    with pytest.raises(ValueError, match="auto_compact_delta_files"):
        CdcPipeline(
            spark, CFG, table, f"{tmpdir_path}/log",
            checkpoint_dir=f"{tmpdir_path}/ckpt",
            auto_compact_delta_files=0,
        )


def test_auto_compact_rejects_cow_table(spark, tmpdir_path):
    """A copy-on-write table never accumulates delta files, so
    auto-compaction would be silently inert — the constructor surfaces
    the config mismatch instead."""
    table = _mk_table(spark, f"{tmpdir_path}/t_cow", mode="cow")
    with pytest.raises(ValueError, match="merge-on-read"):
        CdcPipeline(
            spark, CFG, table, f"{tmpdir_path}/log",
            checkpoint_dir=f"{tmpdir_path}/ckpt",
            auto_compact_delta_files=4,
        )


def test_compact_commit_self_describes_in_history(spark, tmpdir_path):
    """A compaction's manifest carries an op annotation, so a compaction
    whose caller crashed before its own bookkeeping (e.g. the pipeline's
    lineage append) is still attributable from table history; ordinary
    merge commits carry none (the annotation must not leak forward
    through manifest copies)."""
    table = _mk_table(spark, f"{tmpdir_path}/t_hist")
    batch = spark.createDataFrame(
        [("r", "p", "c1", "py", "v1", 1, "I")],
        "repo string, path string, commit string, lang string, "
        "content string, event_seq long, op string",
    )
    table.merge_cdc(batch, "b1", op_column="op", seq_column="event_seq")
    compacted = table.compact(purge_tombstones=False)
    assert compacted
    table.merge_cdc(
        batch.withColumn("event_seq", F.lit(2)), "b2",
        op_column="op", seq_column="event_seq",
    )
    ops = {h["version"]: h["op"] for h in table.history()}
    compact_ops = [o for o in ops.values() if o]
    assert compact_ops == [
        {
            "type": "compact",
            "buckets": compacted,
            "purge_tombstones": False,
        }
    ]
    # the merge AFTER the compaction inherited no stale annotation
    assert ops[table.version] is None


def test_selective_compact_scans_only_requested_buckets(spark, tmpdir_path):
    """compact(buckets=[b]) with purge_tombstones=True must not run its
    tombstone key/flag probe over clean buckets outside the subset —
    selective maintenance on a wide table stays O(subset)."""
    table = _mk_table(spark, f"{tmpdir_path}/t_sel")
    rows = [
        (f"r{i}", "p", "c", "py", f"v{i}", 1, "I") for i in range(40)
    ]
    batch = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string, event_seq long, op string",
    )
    table.merge_cdc(batch, "b1", op_column="op", seq_column="event_seq")
    table.compact()  # fold everything: all buckets clean
    dirty_bucket = next(iter(table.delta_file_counts()), None)
    assert dirty_bucket is None
    # delete one key -> its bucket gains a delta (tombstone)
    delete = spark.createDataFrame(
        [("r0", "p", None, None, None, 5, "D")], batch.schema
    )
    table.merge_cdc(delete, "b2", op_column="op", seq_column="event_seq")
    target = next(iter(table.delta_file_counts()))
    probed: list[list[int]] = []
    orig = table._tombstone_buckets

    def spy(candidates):
        probed.append(sorted(candidates))
        return orig(candidates)

    table._tombstone_buckets = spy
    rewritten = table.compact(buckets=[target])
    assert rewritten == [target]
    # the probe saw at most the requested subset, never the whole table
    assert all(set(c) <= {target} for c in probed), probed


# The compaction cases above again with every merge and every compaction
# folded and written by Spark (the ``spark_write`` fixture); above, small
# ones fold on the driver.


def test_auto_compact_bounds_delta_files_on_spark_write(
    spark, tmpdir_path, spark_write
):
    test_auto_compact_bounds_delta_files_and_matches_oracle(spark, tmpdir_path)


def test_compact_keep_tombstones_gate_on_spark_write(
    spark, tmpdir_path, spark_write
):
    test_compact_keep_tombstones_preserves_version_gate(spark, tmpdir_path)


def test_compact_keep_tombstones_noop_on_spark_write(
    spark, tmpdir_path, spark_write
):
    test_compact_keep_tombstones_is_observably_noop(spark, tmpdir_path)


def test_compact_history_on_spark_write(spark, tmpdir_path, spark_write):
    test_compact_commit_self_describes_in_history(spark, tmpdir_path)


def test_selective_compact_on_spark_write(spark, tmpdir_path, spark_write):
    test_selective_compact_scans_only_requested_buckets(spark, tmpdir_path)
