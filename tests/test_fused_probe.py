"""The hot-key probe fuses into the bucket-discovery agg: one job per epoch
yields the affected set, per-bucket lineage offsets AND the hottest-key
count (max over buckets == max over keys). These tests pin the fused math
and the lineage surface: every applied epoch records its offsets, whichever
fold it ran."""

import pyspark.sql.functions as F
from pyspark.sql import types as T

from sap_spark.config import EngineConfig
from sap_spark.plans.lake import LakeTable
from sap_spark.sources.datagen import gen_change_events, write_change_log
from sap_spark.streaming.pipeline import CdcPipeline, ingest_batch

from tests.oracle import fold_to_frame

REPO_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)


def test_offsets_with_count_column_match_direct_agg(spark, tmpdir_path):
    table = LakeTable.create(
        spark, f"{tmpdir_path}/t", REPO_SCHEMA, key_columns=["repo", "path"],
        num_buckets=8,
    )
    events = gen_change_events(spark, n_events=2000, n_keys=150,
                               events_per_token=1000)
    winners = (
        events.groupBy("repo", "path")
        .agg(
            F.max("event_seq").alias("event_seq"),
            F.count(F.lit(1)).alias("__n_events"),
        )
    )
    offsets = table.affected_bucket_offsets(
        winners, seq_column="event_seq", count_column="__n_events"
    )
    # the plain call's fields are untouched by the fusion
    plain = table.affected_bucket_offsets(winners, seq_column="event_seq")
    assert sorted(offsets) == sorted(plain)
    for b in plain:
        assert offsets[b]["max_seq"] == plain[b]["max_seq"]
        assert offsets[b]["n_rows"] == plain[b]["n_rows"]
    # max over buckets IS the batch's hottest-key count
    true_hot = winners.agg(F.max("__n_events")).collect()[0][0]
    assert max(o["max_key_events"] for o in offsets.values()) == true_hot
    # absent count column: field simply not emitted (legacy shape)
    assert "max_key_events" not in next(iter(plain.values()))


def test_auto_pipeline_lineage_carries_max_key_events(spark, tmpdir_path):
    """Every applied epoch's bucket_offsets carry max_key_events (the fused probe's output doubles as per-bucket
    skew observability), the recorded hot_key_count equals the max over
    buckets, and the final state is still the exact sequential fold."""
    events = gen_change_events(
        spark, n_events=3000, n_keys=200, events_per_token=1000
    ).cache()
    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir)
    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", REPO_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    cfg = EngineConfig().validate()
    pipe = CdcPipeline(
        spark, cfg, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        pipeline_id="fused",
    )
    pipe.run_available_now(timeout_sec=300)
    applied = [r for r in pipe.lineage() if r["applied"]]
    assert applied
    for r in applied:
        offsets = r["bucket_offsets"]
        assert offsets  # fused discovery recorded per-bucket offsets
        counts = [o["max_key_events"] for o in offsets.values()]
        assert all(isinstance(c, int) and c >= 1 for c in counts)
        assert r["fold"]["hot_key_count"] == max(counts)
        assert r["fold"]["strategy"] == "fetch"  # mild batch stays on fetch

    table = LakeTable(spark, table.path)
    got = table.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got.equals(fold_to_frame(events.toPandas()))


def test_every_applied_epoch_records_bucket_offsets(spark, tmpdir_path):
    """Epochs that flip to the salted window record exact offsets too, and
    so does a batch without token or rocancel columns: the offsets come
    from the post-cancellation winner set on every path."""
    from sap_spark.plans.lake import SEQ_COL, bucket_expr

    events = gen_change_events(
        spark, n_events=2000, n_keys=150, events_per_token=500
    )
    is_hot = F.col("event_seq") % 2 == 0
    hot = events.withColumn(
        "repo", F.when(is_hot, F.lit("org/hot")).otherwise(F.col("repo"))
    ).withColumn(
        "path", F.when(is_hot, F.lit("hot.py")).otherwise(F.col("path"))
    )
    log_dir = f"{tmpdir_path}/log"
    write_change_log(hot, log_dir)
    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", REPO_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    cfg = EngineConfig(hot_key_threshold=100, salt_partitions=4).validate()
    pipe = CdcPipeline(
        spark, cfg, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=2, pipeline_id="salted-offsets",
    )
    pipe.run_available_now(timeout_sec=300)
    applied = [r for r in pipe.lineage() if r["applied"]]
    assert len(applied) >= 2
    for r in applied:
        assert r["fold"]["strategy"] == "window_salted"
        assert r["bucket_offsets"], r
    table = LakeTable(spark, table.path)
    actual = {
        row["b"]: row["m"]
        for row in table.read_internal()
        .groupBy(bucket_expr(["repo", "path"], 8).alias("b"))
        .agg(F.max(SEQ_COL).alias("m"))
        .collect()
    }
    assert pipe.bucket_high_water() == actual

    plain = spark.createDataFrame(
        [("r", f"p{i}", i + 1, "I", "c", "py", "body") for i in range(20)],
        "repo string, path string, event_seq long, op string, "
        "commit string, lang string, content string",
    )
    metrics: dict = {}
    t2 = LakeTable.create(
        spark, f"{tmpdir_path}/plain", REPO_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    assert ingest_batch(plain, t2, cfg, "plain-0", metrics_out=metrics)
    offsets = metrics["bucket_offsets"]
    assert sum(o["n_rows"] for o in offsets.values()) == 20
    assert max(o["max_seq"] for o in offsets.values()) == 20


def test_lineage_max_key_events_on_spark_discovery(
    spark, tmpdir_path, spark_discovery
):
    test_auto_pipeline_lineage_carries_max_key_events(spark, tmpdir_path)


def test_every_epoch_records_offsets_on_spark_discovery(
    spark, tmpdir_path, spark_discovery
):
    test_every_applied_epoch_records_bucket_offsets(spark, tmpdir_path)
