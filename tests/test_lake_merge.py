"""LakeTable: bucketed COW merge, exactly-once markers, tombstones,
schema evolution, time travel, compaction."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from sap_spark.config import EngineConfig
from sap_spark.plans.lake import LakeTable
from sap_spark.schema.compat import SchemaCompatError
from sap_spark.sources.datagen import gen_change_events
from sap_spark.streaming.pipeline import ingest_batch

from tests.oracle import fold_to_frame

CFG = EngineConfig().validate()

TARGET_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)


def make_table(spark, tmpdir_path, num_buckets=8):
    return LakeTable.create(
        spark,
        f"{tmpdir_path}/repos",
        TARGET_SCHEMA,
        key_columns=["repo", "path"],
        num_buckets=num_buckets,
    )


def read_sorted(table):
    return (
        table.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    )


def test_token_by_token_merge_matches_oracle(spark, tmpdir_path):
    events = gen_change_events(
        spark, n_events=4000, n_keys=400, events_per_token=1000
    ).cache()
    table = make_table(spark, tmpdir_path)
    tokens = sorted(r[0] for r in events.select("delta_token").distinct().collect())
    for tok in tokens:
        batch = events.where(F.col("delta_token") == tok)
        assert ingest_batch(batch, table, CFG, batch_id=f"batch-{tok}")
    got = read_sorted(table)
    expected = fold_to_frame(events.toPandas())
    assert got.equals(expected)
    # every batch committed exactly once
    assert table.committed_batches() == {f"batch-{t}" for t in tokens}


def test_merge_is_idempotent_under_replay(spark, tmpdir_path):
    events = gen_change_events(
        spark, n_events=2000, n_keys=300, events_per_token=1000
    ).cache()
    table = make_table(spark, tmpdir_path)
    tokens = sorted(r[0] for r in events.select("delta_token").distinct().collect())
    for tok in tokens:
        batch = events.where(F.col("delta_token") == tok)
        assert ingest_batch(batch, table, CFG, batch_id=f"b-{tok}")
        # replayed epoch (same batch_id): must be a no-op
        version_before = table.version
        assert not ingest_batch(batch, table, CFG, batch_id=f"b-{tok}")
        assert table.version == version_before
    assert read_sorted(table).equals(fold_to_frame(events.toPandas()))


def test_late_duplicate_cannot_regress_row(spark, tmpdir_path):
    """A re-delivery of an OLD event in a later batch (distinct batch_id)
    must not overwrite a newer row — per-row _event_seq versioning."""
    table = make_table(spark, tmpdir_path, num_buckets=2)
    mk = lambda rows: spark.createDataFrame(
        rows, "repo string, path string, event_seq long, op string, "
        "commit string, lang string, content string"
    )
    ingest_batch(mk([("r", "p", 10, "I", "c10", "py", "v10")]), table, CFG, "b1")
    ingest_batch(mk([("r", "p", 20, "U", "c20", "py", "v20")]), table, CFG, "b2")
    # duplicate of seq 10 arrives late under a new batch id
    ingest_batch(mk([("r", "p", 10, "I", "c10", "py", "v10")]), table, CFG, "b3")
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "v20"


def test_delete_tombstone_blocks_stale_insert(spark, tmpdir_path):
    table = make_table(spark, tmpdir_path, num_buckets=2)
    mk = lambda rows: spark.createDataFrame(
        rows, "repo string, path string, event_seq long, op string, "
        "commit string, lang string, content string"
    )
    ingest_batch(mk([("r", "p", 10, "I", "c", "py", "v10")]), table, CFG, "b1")
    ingest_batch(mk([("r", "p", 30, "D", None, None, None)]), table, CFG, "b2")
    assert table.read().count() == 0
    # stale re-delivery of the insert after the delete: must stay deleted
    ingest_batch(mk([("r", "p", 10, "I", "c", "py", "v10")]), table, CFG, "b3")
    assert table.read().count() == 0
    # but a genuinely newer insert resurrects the key
    ingest_batch(mk([("r", "p", 40, "I", "c2", "py", "v40")]), table, CFG, "b4")
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "v40"


def test_bucket_pruning_rewrites_only_touched_buckets(spark, tmpdir_path):
    events = gen_change_events(
        spark, n_events=2000, n_keys=300, events_per_token=1000
    )
    table = make_table(spark, tmpdir_path, num_buckets=16)
    tok0 = events.where(F.col("delta_token") == "D0000000")
    ingest_batch(tok0, table, CFG, "b0")
    files_before = dict(table.manifest["buckets"])
    # merge a single key -> exactly one bucket's files may change
    one = spark.createDataFrame(
        [("zorg/zrepo", "a.py", 99999, "I", "c", "py", "x")],
        "repo string, path string, event_seq long, op string, commit string, "
        "lang string, content string",
    )
    ingest_batch(one, table, CFG, "b1")
    files_after = table.manifest["buckets"]
    changed = [
        b for b in set(files_before) | set(files_after)
        if files_before.get(b) != files_after.get(b)
    ]
    assert len(changed) == 1, f"expected 1 rewritten bucket, got {changed}"


def test_schema_evolution_add_and_widen(spark, tmpdir_path):
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("size", T.IntegerType(), True),
        ]
    )
    table = LakeTable.create(
        spark, f"{tmpdir_path}/t", schema, key_columns=["repo", "path"], num_buckets=2
    )
    ingest_batch(
        spark.createDataFrame(
            [("r", "p1", 5, "I", 100)],
            "repo string, path string, event_seq long, op string, size int",
        ),
        table, CFG, "b1",
    )
    # later batch introduces license:string (add) and size widened to long
    ingest_batch(
        spark.createDataFrame(
            [("r", "p2", 6, "I", 2**40, "MIT")],
            "repo string, path string, event_seq long, op string, size long, "
            "license string",
        ),
        table, CFG, "b2",
    )
    got = table.read().orderBy("path").collect()
    assert [f.name for f in table.schema.fields] == ["repo", "path", "size", "license"]
    assert table.schema["size"].dataType == T.LongType()
    # pre-evolution row reads back with null license and upcast size
    assert got[0]["license"] is None and got[0]["size"] == 100
    assert got[1]["license"] == "MIT" and got[1]["size"] == 2**40
    # incompatible drift (narrowing) is rejected
    with pytest.raises(SchemaCompatError):
        ingest_batch(
            spark.createDataFrame(
                [("r", "p3", 7, "I", "notanint")],
                "repo string, path string, event_seq long, op string, size string",
            ),
            table, CFG, "b3",
        )


def test_time_travel_and_compaction(spark, tmpdir_path):
    table = make_table(spark, tmpdir_path, num_buckets=2)
    mk = lambda rows: spark.createDataFrame(
        rows, "repo string, path string, event_seq long, op string, "
        "commit string, lang string, content string"
    )
    ingest_batch(mk([("r", "p", 1, "I", "c", "py", "v1")]), table, CFG, "b1")
    v1 = table.version
    ingest_batch(mk([("r", "p", 2, "D", None, None, None)]), table, CFG, "b2")
    assert table.read().count() == 0
    old = LakeTable(spark, table.path, version=v1)
    assert old.read().collect()[0]["content"] == "v1"
    # compaction drops tombstones but preserves the live view
    table.compact()
    assert table.read().count() == 0
    assert table.read_internal().count() == 0  # tombstone gone
    assert len(table.history()) >= 4


def test_create_validates_buckets_and_keys(spark, tmpdir_path):
    """num_buckets=0 would send every row to pmod(hash, 0) = NULL (the
    Hive default partition) and the second merge would silently replace
    the bucket map — reject at create, like rebucket() already does.
    Key columns must be non-empty and present in the schema."""
    with pytest.raises(ValueError, match="num_buckets"):
        LakeTable.create(
            spark, f"{tmpdir_path}/b0", TARGET_SCHEMA,
            key_columns=["repo", "path"], num_buckets=0,
        )
    with pytest.raises(ValueError, match="key_columns"):
        LakeTable.create(
            spark, f"{tmpdir_path}/k0", TARGET_SCHEMA,
            key_columns=[], num_buckets=4,
        )
    with pytest.raises(ValueError, match="not in the table schema"):
        LakeTable.create(
            spark, f"{tmpdir_path}/k1", TARGET_SCHEMA,
            key_columns=["repo", "nope"], num_buckets=4,
        )


def test_merge_rejects_stale_affected_buckets(spark, tmpdir_path):
    """A caller-supplied affected_buckets list that misses a bucket the
    batch touches must fail loudly BEFORE the commit — the old behavior
    silently replaced the missed bucket's entry with batch-only rows,
    dropping every pre-existing row of that bucket."""
    events = gen_change_events(spark, n_events=400, n_keys=50).cache()
    table = make_table(spark, tmpdir_path)
    all_buckets = sorted(table.affected_bucket_offsets(events))
    assert len(all_buckets) > 1  # the scenario needs a missed bucket
    folded = fold = None
    from sap_spark.operators.dedup import fold_changes

    fold = fold_changes(events, CFG)
    before = table.version
    with pytest.raises(ValueError, match="outside the caller-supplied"):
        table.merge_cdc(fold, batch_id="stale", affected_buckets=all_buckets[:1])
    # nothing committed, batch id not burned
    assert table.version == before
    assert "stale" not in table.committed_batches()
    # the correct list still applies
    assert table.merge_cdc(fold, batch_id="ok", affected_buckets=all_buckets)


def test_overwrite_evolves_schema_like_merge(spark, tmpdir_path):
    """A backfill frame carrying a column the stored schema lacks must
    evolve the schema (merge_cdc parity), not silently drop the data."""
    table = LakeTable.create(
        spark, f"{tmpdir_path}/evo",
        T.StructType(
            [
                T.StructField("repo", T.StringType(), False),
                T.StructField("path", T.StringType(), False),
                T.StructField("commit", T.StringType(), True),
            ]
        ),
        key_columns=["repo", "path"], num_buckets=2,
    )
    df = spark.createDataFrame(
        [("r", "p", "c1", "py")],
        schema="repo string, path string, commit string, lang string",
    )
    table.overwrite(df, batch_id="backfill-1")
    got = LakeTable(spark, table.path).read()
    assert "lang" in got.columns
    assert got.first()["lang"] == "py"
