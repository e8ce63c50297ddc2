"""Merge-on-read mode: delta-file appends + read-time fold must be
observationally identical to copy-on-write, including out-of-order delta
units, tombstones, compaction, and exactly-once replay."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from sap_spark.config import EngineConfig
from sap_spark.plans.lake import LakeTable
from sap_spark.sources.datagen import gen_change_events, write_change_log
from sap_spark.streaming.pipeline import CdcPipeline, ingest_batch

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


def _mk_table(spark, path, mode):
    return LakeTable.create(
        spark, path, SCHEMA, key_columns=["repo", "path"],
        num_buckets=8, merge_mode=mode,
    )


def test_mor_pipeline_equals_cow_and_oracle(spark, tmpdir_path):
    events = gen_change_events(
        spark, n_events=6000, n_keys=500, events_per_token=1000
    ).cache()
    oracle = fold_to_frame(events.toPandas())
    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir)

    results = {}
    for mode in ("cow", "mor"):
        table = _mk_table(spark, f"{tmpdir_path}/{mode}", mode)
        pipe = CdcPipeline(
            spark, CFG, table, log_dir,
            checkpoint_dir=f"{tmpdir_path}/ckpt_{mode}",
            max_files_per_trigger=2, pipeline_id=f"mor-eq-{mode}",
        )
        pipe.run_available_now(timeout_sec=600)
        results[mode] = (
            LakeTable(spark, table.path).read()
            .orderBy("repo", "path").toPandas().reset_index(drop=True)
        )
    assert results["mor"].equals(oracle), "MOR diverged from sequential fold"
    assert results["cow"].equals(results["mor"])

    # the MOR table really took the delta path (no bucket rewrites)
    mor_table = LakeTable(spark, f"{tmpdir_path}/mor")
    kinds = {
        e.get("kind", "base")
        for entries in mor_table.manifest["buckets"].values()
        for e in entries
    }
    assert kinds == {"delta"}  # empty table + delta appends only

    # compaction folds deltas into base files without changing the state
    mor_table.compact()
    compacted = LakeTable(spark, mor_table.path)
    kinds = {
        e.get("kind", "base")
        for entries in compacted.manifest["buckets"].values()
        for e in entries
    }
    assert kinds == {"base"}
    got = (
        compacted.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    )
    assert got.equals(oracle)
    # old delta files reclaimed
    assert compacted.expire_snapshots(keep_last=1) > 0


def test_mor_out_of_order_tokens_version_gate(spark, tmpdir_path):
    """Delta units applied out of order: the read-time event_seq gate must
    yield the same state as in-order apply (later seq wins regardless of
    arrival; stale insert after delete stays dead)."""
    table = _mk_table(spark, f"{tmpdir_path}/t", "mor")
    rows_hi = [
        ("r1", "a.py", "c2", "py", "v2", "U", 200, "T2"),
        ("r1", "b.py", None, None, None, "D", 201, "T2"),
    ]
    rows_lo = [
        ("r1", "a.py", "c1", "py", "v1", "I", 100, "T1"),
        ("r1", "b.py", "c1", "py", "v1", "I", 101, "T1"),
    ]
    ddl = ("repo string, path string, commit string, lang string, "
           "content string, op string, event_seq long, delta_token string")
    # higher-seq token applied FIRST
    assert ingest_batch(spark.createDataFrame(rows_hi, ddl), table, CFG, "b-hi")
    table = LakeTable(spark, table.path)
    assert ingest_batch(spark.createDataFrame(rows_lo, ddl), table, CFG, "b-lo")
    table = LakeTable(spark, table.path)
    got = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert got == {("r1", "a.py"): "v2"}  # v2 wins; b.py stays deleted


def test_mor_replayed_batch_is_noop(spark, tmpdir_path):
    table = _mk_table(spark, f"{tmpdir_path}/t", "mor")
    events = gen_change_events(spark, n_events=1000, n_keys=100, events_per_token=500)
    assert ingest_batch(events, table, CFG, "batch-1")
    table = LakeTable(spark, table.path)
    v = table.version
    state = table.read().orderBy("repo", "path").toPandas()
    assert ingest_batch(events, table, CFG, "batch-1") is False
    table = LakeTable(spark, table.path)
    assert table.version == v
    assert table.read().orderBy("repo", "path").toPandas().equals(state)


def test_mor_schema_evolution_across_deltas(spark, tmpdir_path):
    """MOR + evolution: delta files written under an older schema must
    conform at read time (null-fill added column, widen int→long) while
    newer deltas supersede older rows through the fold."""
    v1 = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("size", T.IntegerType(), True),
        ]
    )
    table = LakeTable.create(
        spark, f"{tmpdir_path}/t", v1, key_columns=["repo", "path"],
        num_buckets=4, merge_mode="mor",
    )
    cfg = EngineConfig(payload_columns=("size",)).validate()
    ddl1 = ("repo string, path string, size int, op string, "
            "event_seq long, delta_token string")
    assert ingest_batch(
        spark.createDataFrame(
            [("r1", "a", 10, "I", 1, "T1"), ("r1", "b", 20, "I", 2, "T1")], ddl1
        ),
        LakeTable(spark, table.path), cfg, "b1",
    )
    # evolved batch: size widened to long + new nullable license column
    ddl2 = ("repo string, path string, size long, license string, op string, "
            "event_seq long, delta_token string")
    cfg2 = EngineConfig(payload_columns=("size", "license")).validate()
    assert ingest_batch(
        spark.createDataFrame(
            [("r1", "a", 9_000_000_000, "MIT", "U", 3, "T2")], ddl2
        ),
        LakeTable(spark, table.path), cfg2, "b2",
    )
    final = LakeTable(spark, table.path)
    assert final.schema["size"].dataType == T.LongType()
    got = {
        (r["repo"], r["path"]): (r["size"], r["license"])
        for r in final.read().collect()
    }
    assert got == {
        ("r1", "a"): (9_000_000_000, "MIT"),  # newer delta wins, widened
        ("r1", "b"): (20, None),              # old delta null-filled
    }


def test_mor_write_amplification_is_batch_sized(spark, tmpdir_path):
    """The point of MOR: a small epoch against a big table writes O(batch)
    bytes, while COW rewrites the touched buckets. Load a large base, apply
    a tiny batch, compare bytes written by the merge commit."""
    import glob
    import os

    base = gen_change_events(spark, n_events=20000, n_keys=5000, events_per_token=20000)
    tiny = [
        ("org0/repo1", "src/x/upd.py", "c9", "py", "tiny update", "U", 10**9, "T9"),
    ]
    ddl = ("repo string, path string, commit string, lang string, "
           "content string, op string, event_seq long, delta_token string")

    written = {}
    for mode in ("cow", "mor"):
        table = _mk_table(spark, f"{tmpdir_path}/{mode}", mode)
        assert ingest_batch(base, table, CFG, "load")
        table = LakeTable(spark, table.path)
        before = {
            f: os.path.getsize(f)
            for f in glob.glob(f"{table.path}/data/*/__bucket=*/*.parquet")
        }
        assert ingest_batch(
            spark.createDataFrame(tiny, ddl), table, CFG, "tiny"
        )
        after = {
            f: os.path.getsize(f)
            for f in glob.glob(f"{table.path}/data/*/__bucket=*/*.parquet")
        }
        written[mode] = sum(sz for f, sz in after.items() if f not in before)

    assert written["mor"] * 10 < written["cow"], (
        f"MOR should write ~batch bytes, got mor={written['mor']} "
        f"cow={written['cow']}"
    )
    # and both read to the same final row
    for mode in ("cow", "mor"):
        t = LakeTable(spark, f"{tmpdir_path}/{mode}")
        row = t.read().where(
            (F.col("repo") == "org0/repo1") & (F.col("path") == "src/x/upd.py")
        ).collect()
        assert [r["content"] for r in row] == ["tiny update"]


# The tests above write each small merge-on-read epoch from the driver
# (pyarrow delta files) and fold small compactions there; these run them
# again on the Spark fold, write and compaction.


def test_mor_pipeline_equals_cow_and_oracle_on_spark_write(
    spark, tmpdir_path, spark_write
):
    test_mor_pipeline_equals_cow_and_oracle(spark, tmpdir_path)


def test_mor_out_of_order_tokens_version_gate_on_spark_write(
    spark, tmpdir_path, spark_write
):
    test_mor_out_of_order_tokens_version_gate(spark, tmpdir_path)


def test_mor_replayed_batch_is_noop_on_spark_write(spark, tmpdir_path, spark_write):
    test_mor_replayed_batch_is_noop(spark, tmpdir_path)


def test_mor_schema_evolution_across_deltas_on_spark_write(
    spark, tmpdir_path, spark_write
):
    test_mor_schema_evolution_across_deltas(spark, tmpdir_path)


def test_mor_write_amplification_is_batch_sized_on_spark_write(
    spark, tmpdir_path, spark_write
):
    test_mor_write_amplification_is_batch_sized(spark, tmpdir_path)
