"""End-to-end: change-log parquet → Structured Streaming CDC pipeline →
LakeTable; resume from checkpoint; incremental tail; lineage metrics."""

import pyspark.sql.functions as F
from pyspark.sql import types as T

from sap_spark.config import EngineConfig
from sap_spark.plans.lake import LakeTable
from sap_spark.sources.datagen import gen_change_events, write_change_log
from sap_spark.streaming.pipeline import CdcPipeline

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


def test_streaming_replay_resume_and_tail(spark, tmpdir_path):
    events = gen_change_events(
        spark, n_events=6000, n_keys=500, events_per_token=1000
    ).cache()
    first = events.where(F.col("event_seq") < 4000)   # tokens 0-3
    rest = events.where(F.col("event_seq") >= 4000)   # tokens 4-5 (+dups)

    log_dir = f"{tmpdir_path}/log"
    write_change_log(first, log_dir)

    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    pipe = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=2,       # 2 whole delta tokens per micro-batch
        pipeline_id="e2e",
    )
    pipe.run_available_now(timeout_sec=300)
    table = LakeTable(spark, table.path)  # re-resolve snapshot pointer
    got = table.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got.equals(fold_to_frame(first.toPandas()))

    # multiple epochs happened (maxFilesPerTrigger honored under AvailableNow)
    lineage = pipe.lineage()
    applied = [r for r in lineage if r["applied"]]
    assert len(applied) >= 2
    assert sum(r["n_events"] for r in applied) == first.count()
    # token ranges are contiguous and ordered across epochs
    assert [r["min_token"] for r in applied] == sorted(r["min_token"] for r in applied)

    # restart with NO new data: checkpoint resume → zero new applies
    pipe2 = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt", pipeline_id="e2e",
    )
    pipe2.run_available_now(timeout_sec=300)
    table = LakeTable(spark, table.path)
    assert table.read().orderBy("repo", "path").toPandas().reset_index(
        drop=True
    ).equals(fold_to_frame(first.toPandas()))

    # append the tail of the log (new delta tokens) and resume again:
    # incremental ingest picks up ONLY the new tokens
    rest.repartition("delta_token").write.mode("append").partitionBy(
        "delta_token"
    ).parquet(log_dir)
    pipe3 = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt", pipeline_id="e2e",
    )
    pipe3.run_available_now(timeout_sec=300)
    table = LakeTable(spark, table.path)
    got = table.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got.equals(fold_to_frame(events.toPandas()))

    # exactly-once under epoch replay: re-running a committed epoch is a no-op
    version = table.version
    some_batch = events.where(F.col("delta_token") == "D0000000")
    pipe3.table = table
    pipe3._process_batch(some_batch, epoch_id=0)  # same (pipeline, epoch) id
    assert table.version == version


def test_pipeline_decode_transform_stage(spark, tmpdir_path):
    """The per-batch decode hook (north_star "vectorized field decoding"):
    a transform built from the decode kernels runs inside each epoch and
    its effect lands in the final table."""
    from sap_spark.functions.decode import decode_string

    events = gen_change_events(spark, n_events=2000, n_keys=200, events_per_token=500)
    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir)

    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )

    def decode_stage(df):
        # type-asserted decode (kernel T7) + SAP-style mapping: lang code
        # normalized upper-case, envelope columns untouched
        return df.withColumn("lang", F.upper(decode_string("lang", F.col("lang"))))

    pipe = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=2,
        transform=decode_stage,
        pipeline_id="decode-test",
    )
    pipe.run_available_now(timeout_sec=600)

    final = LakeTable(spark, table.path).read()
    langs = [r["lang"] for r in final.select("lang").distinct().collect()]
    assert langs and all(v == v.upper() for v in langs if v is not None)


def test_token_atomicity_under_file_split_batches(spark, tmpdir_path):
    """A multi-file delta token straddling micro-batches must still be
    applied atomically (ROCANCEL scope = whole token). mft=3 over
    4-file tokens guarantees most epochs cut tokens mid-way; the deferral
    logic must hold partial tokens back and the final state must equal the
    sequential-fold oracle."""
    events = gen_change_events(
        spark, n_events=6000, n_keys=500, events_per_token=1000
    ).cache()
    oracle = fold_to_frame(events.toPandas())

    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir, files_per_token=4)

    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    pipe = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=3,
        pipeline_id="atomicity-test",
    )
    pipe.run_available_now(timeout_sec=600)

    lineage = pipe.lineage()
    assert any(r.get("deferred_files") for r in lineage), (
        "test setup never split a token across epochs"
    )
    assert pipe.deferred_files() == [], "complete log left deferred tokens"
    got = (
        LakeTable(spark, table.path).read()
        .orderBy("repo", "path").toPandas().reset_index(drop=True)
    )
    assert len(got) == len(oracle)
    assert got.equals(oracle), "split-token batching corrupted the fold"


def test_token_atomicity_across_compact_boundary(spark, tmpdir_path):
    """Every compactInterval-th (default 10) checkpoint source-log entry is
    written as ``<epoch>.compact`` instead of ``<epoch>``. _batch_files must
    fall back to the compact file (filtering by batchId), or those epochs
    silently skip token-atomicity enforcement and AQE re-rooting. 12 tokens
    × 4 files at maxFilesPerTrigger=3 → 16 epochs, crossing the compact
    write at epoch 9 with tokens split mid-way throughout."""
    events = gen_change_events(
        spark, n_events=6000, n_keys=500, events_per_token=500
    ).cache()
    oracle = fold_to_frame(events.toPandas())

    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir, files_per_token=4)

    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    pipe = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=3,
        pipeline_id="compact-test",
    )
    pipe.run_available_now(timeout_sec=600)

    import os

    src_dir = f"{tmpdir_path}/ckpt/sources/0"
    compacts = [f for f in os.listdir(src_dir) if f.endswith(".compact")]
    assert compacts, "test never crossed the source-log compact interval"
    # the compact epoch itself must have resolved its file set (pinned files
    # recorded per-batchId inside the compact file)
    compact_epoch = int(compacts[0].split(".")[0])
    assert pipe._batch_files(compact_epoch), "compact epoch file set unresolved"
    # within Spark's log-cleanup delay the plain <n> files sit next to the
    # <m>.compact that repeats their entries: each epoch's file set must
    # still be exactly its own log file's entries, in order, once each
    import json

    plain = sorted(int(f) for f in os.listdir(src_dir) if f.isdigit())
    assert any(n < compact_epoch for n in plain), "plain log files already cleaned"
    for n in plain:
        with open(os.path.join(src_dir, str(n))) as f:
            logged = [json.loads(ln)["path"] for ln in f if ln.startswith("{")]
        assert pipe._batch_files(n) == logged, f"epoch {n} file set"
    for r in pipe.lineage():
        files = pipe._batch_files(r["epoch_id"])
        assert len(files) == len(set(files)), f"epoch {r['epoch_id']} duplicates"
    applied = [r for r in pipe.lineage() if r["applied"]]
    assert len(applied) > compact_epoch, "run ended before the compact epoch"
    assert any(r.get("deferred_files") for r in pipe.lineage()), (
        "test setup never split a token across epochs"
    )
    assert pipe.deferred_files() == []
    got = (
        LakeTable(spark, table.path).read()
        .orderBy("repo", "path").toPandas().reset_index(drop=True)
    )
    assert got.equals(oracle), "compact-boundary epoch corrupted the fold"


def test_non_listable_source_fails_loud(spark, tmpdir_path):
    """Token-atomicity enforcement on an object-store scheme must raise,
    not silently degrade (completeness can't be verified by listing; a
    split token would lose ROCANCEL scope). Explicit opt-out documented."""
    import pytest

    events = gen_change_events(spark, n_events=200, n_keys=50, events_per_token=100)
    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=4,
    )
    pipe = CdcPipeline(
        spark, CFG, table, f"{tmpdir_path}/log",
        checkpoint_dir=f"{tmpdir_path}/ckpt", pipeline_id="s3-test",
    )
    pipe._batch_files = lambda epoch_id: [
        "s3://bucket/log/delta_token=D0/part-0.parquet"
    ]
    with pytest.raises(RuntimeError, match="listable"):
        pipe._process_batch(events, 0)


def test_crash_between_write_and_commit_recovers(spark, tmpdir_path):
    """Exactly-once under a mid-merge crash: the process dies AFTER new
    bucket files are written but BEFORE the manifest pointer flips. The
    snapshot must be unchanged (readers never see the orphaned files), the
    retried epoch must apply cleanly, and expire_snapshots must reclaim the
    orphans."""
    import pytest

    events = gen_change_events(spark, n_events=2000, n_keys=200, events_per_token=500)
    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir)

    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    pipe = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=2, pipeline_id="crash-test",
    )

    # inject: first _commit call dies post-write, pre-pointer-flip
    real_commit = LakeTable._commit
    state = {"failed": False}

    def failing_commit(self, manifest):
        if not state["failed"]:
            state["failed"] = True
            raise RuntimeError("injected crash before pointer flip")
        return real_commit(self, manifest)

    LakeTable._commit = failing_commit
    try:
        with pytest.raises(Exception, match="injected crash"):
            pipe.run_available_now(timeout_sec=300)
    finally:
        LakeTable._commit = real_commit

    crashed = LakeTable(spark, table.path)
    assert crashed.version == 0 and crashed.read().count() == 0  # no flip

    # restart from the same checkpoint: streaming replays the epoch
    pipe2 = CdcPipeline(
        spark, CFG, crashed, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=2, pipeline_id="crash-test",
    )
    pipe2.run_available_now(timeout_sec=300)
    final = LakeTable(spark, table.path)
    got = final.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got.equals(fold_to_frame(events.toPandas())), "crash recovery diverged"

    # the crashed attempt's files are unreferenced; expire reclaims them
    removed = final.expire_snapshots(keep_last=1)
    assert removed > 0
    still = final.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert still.equals(fold_to_frame(events.toPandas()))


def test_derive_num_buckets_rule(spark, tmpdir_path):
    from sap_spark.plans.lake import derive_num_buckets

    assert derive_num_buckets(0) == 8                      # empty → floor
    assert derive_num_buckets(100 << 20) == 8              # < 2 GiB → floor
    assert derive_num_buckets(10 << 30) == 40              # 10 GiB / 256 MiB
    assert derive_num_buckets(100 << 40) == 4096           # capped
    assert derive_num_buckets(10 << 30, min_buckets=64) == 64
    t = LakeTable.create(
        spark, f"{tmpdir_path}/derived", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=None,
        expected_payload_bytes=10 << 30,
    )
    assert t.num_buckets == 40


def test_epoch_retry_is_noop(spark, tmpdir_path):
    """Injected foreachBatch retry (SURVEY.md §7 hard parts): re-running an
    already-committed epoch — same epoch_id, same pinned file set — must not
    change the table (exactly-once under crash-replay)."""
    events = gen_change_events(spark, n_events=2000, n_keys=200, events_per_token=500)
    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir)

    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    pipe = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=2,
        pipeline_id="retry-test",
    )
    pipe.run_available_now(timeout_sec=600)

    table = LakeTable(spark, table.path)
    v_before = table.version
    state_before = table.read().orderBy("repo", "path").toPandas()

    # simulate the streaming engine re-invoking an old epoch after a crash:
    # same epoch_id, and the batch content is re-derived from the pinned
    # checkpoint source log regardless of the frame passed in
    dummy = spark.read.schema(events.schema).parquet(log_dir).limit(0)
    pipe._process_batch(dummy, 0)

    table = LakeTable(spark, table.path)
    assert table.version == v_before
    state_after = table.read().orderBy("repo", "path").toPandas()
    assert state_after.equals(state_before)
    retried = [r for r in pipe.lineage() if r["epoch_id"] == 0]
    assert retried[-1]["applied"] is False


def test_auto_strategy_flips_on_zipf_hot_key(spark, tmpdir_path):
    """The runtime hot-key flip: a batch where one key carries half the
    events must (a) be detected by the winner-scan probe, (b) fold via the
    salted window path with bounded per-(key, salt) partition sizes, and
    (c) produce exactly the sequential-fold state; a mild batch under the
    same config stays on the fetch path. The fold that ran and the
    hottest-key count are recorded in lineage."""
    events = gen_change_events(
        spark, n_events=6000, n_keys=500, events_per_token=3000
    ).cache()
    # concentrate ~50% of events (and their dups/cancels) onto one key
    is_hot = F.col("event_seq") % 2 == 0
    hot_events = events.withColumn(
        "repo", F.when(is_hot, F.lit("org/hot")).otherwise(F.col("repo"))
    ).withColumn(
        "path", F.when(is_hot, F.lit("hot.py")).otherwise(F.col("path"))
    ).cache()
    log_dir = f"{tmpdir_path}/hotlog"
    write_change_log(hot_events, log_dir)

    cfg = EngineConfig(hot_key_threshold=1000, salt_partitions=4).validate()
    table = LakeTable.create(
        spark, f"{tmpdir_path}/hot_repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    # no option: the north-rule skew machinery engages without opt-in
    pipe = CdcPipeline(
        spark, cfg, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/hot_ckpt",
        pipeline_id="auto-hot",
    )
    pipe.run_available_now(timeout_sec=300)
    applied = [r for r in pipe.lineage() if r["applied"]]
    assert applied and all(
        r["fold"]["strategy"] == "window_salted" for r in applied
    )
    assert max(r["fold"]["hot_key_count"] for r in applied) >= 1000

    # correctness unchanged: exact sequential-fold state
    table = LakeTable(spark, table.path)
    got = table.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got.equals(fold_to_frame(hot_events.toPandas()))

    # the salted level-1 partitions really are bounded: no (key, salt)
    # group exceeds ~hot/salt_partitions (2x slack for salt-hash variance)
    salt = F.pmod(F.xxhash64(F.col("event_seq")), F.lit(cfg.salt_partitions))
    sizes = (
        hot_events.groupBy("repo", "path", salt.alias("s"))
        .count().agg(F.max("count")).collect()[0][0]
    )
    hot_total = hot_events.where(F.col("repo") == "org/hot").count()
    assert sizes <= 2 * hot_total / cfg.salt_partitions

    # a mild batch under the same config stays on fetch
    log2 = f"{tmpdir_path}/mildlog"
    write_change_log(events, log2)
    table2 = LakeTable.create(
        spark, f"{tmpdir_path}/mild_repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    pipe2 = CdcPipeline(
        spark, cfg, table2, log2,
        checkpoint_dir=f"{tmpdir_path}/mild_ckpt",
        pipeline_id="auto-mild",
    )
    pipe2.run_available_now(timeout_sec=300)
    applied2 = [r for r in pipe2.lineage() if r["applied"]]
    assert applied2 and all(r["fold"]["strategy"] == "fetch" for r in applied2)
    table2 = LakeTable(spark, table2.path)
    got2 = table2.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got2.equals(fold_to_frame(events.toPandas()))


def test_per_bucket_lineage_offsets(spark, tmpdir_path):
    """Each applied epoch's lineage carries per-partition (bucket)
    high-water offsets {bucket: {max_seq, n_rows}} (north_rule
    "per-partition lineage offsets"), and bucket_high_water() — the max
    applied seq per bucket across epochs — matches the table's actual
    per-bucket max _event_seq, tombstones included."""
    from sap_spark.plans.lake import SEQ_COL, bucket_expr

    events = gen_change_events(
        spark, n_events=4000, n_keys=400, events_per_token=800
    ).cache()
    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir)
    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    pipe = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=2, pipeline_id="offsets",
    )
    pipe.run_available_now(timeout_sec=300)

    applied = [r for r in pipe.lineage() if r["applied"]]
    assert len(applied) >= 2
    for r in applied:
        offs = r["bucket_offsets"]
        assert offs, r
        for off in offs.values():
            assert off["max_seq"] is not None and off["n_rows"] >= 1
    # offsets are monotone per bucket across epochs (tokens arrive in order)
    seen: dict = {}
    for r in applied:
        for b, off in r["bucket_offsets"].items():
            assert off["max_seq"] > seen.get(b, -1), (b, off)
            seen[b] = off["max_seq"]

    # high-water == the table's real per-bucket max applied seq
    table = LakeTable(spark, table.path)
    actual = {
        row["b"]: row["m"]
        for row in table.read_internal()
        .groupBy(bucket_expr(["repo", "path"], 8).alias("b"))
        .agg(F.max(SEQ_COL).alias("m"))
        .collect()
    }
    assert pipe.bucket_high_water() == actual


def test_local_path_percent_decodes_uris():
    """Spark records source-log entries as Path.toUri strings — a space
    in a directory name arrives percent-encoded. _local_path must decode
    or every atomicity listing on such a path names a nonexistent file."""
    lp = CdcPipeline._local_path
    assert lp("file:///tmp/my%20log/delta_token=t%253A1/f.parquet") == (
        "/tmp/my log/delta_token=t%3A1/f.parquet"
    )
    assert lp("/plain/path/f.parquet") == "/plain/path/f.parquet"
    assert lp("s3://bucket/k") is None


def test_pipeline_log_dir_with_space(spark, tmpdir_path):
    """End-to-end replay from a log directory whose name Spark
    URI-encodes: token atomicity (default on) must list and re-root the
    decoded paths."""
    events = gen_change_events(
        spark, n_events=800, n_keys=80, events_per_token=200
    ).cache()
    log_dir = f"{tmpdir_path}/my log"   # space => %20 in the source log
    write_change_log(events, log_dir)
    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=4,
    )
    CdcPipeline(
        spark, EngineConfig().validate(), table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt", max_files_per_trigger=2,
        pipeline_id="space-log",
    ).run_available_now(timeout_sec=300)
    got = (
        LakeTable(spark, table.path).read()
        .orderBy("repo", "path").toPandas().reset_index(drop=True)
    )
    assert got.equals(fold_to_frame(events.toPandas()))


def test_lineage_bills_commit_metadata_to_its_own_phase(
    spark, tmpdir_path, monkeypatch
):
    """Each merge's lineage ``merge_phases`` names the metadata pass's
    time (``metadata_sec``) and locality (``metadata_on``), and
    ``merge_write_sec`` no longer includes it: the phases sum to no more
    than the merge's own wall time."""
    import time

    import sap_spark.plans.stats as stats_mod

    real_entry = stats_mod.collect_entry_metadata

    def slow_entry(*args):  # a visible metadata cost
        time.sleep(0.2)
        return real_entry(*args)

    monkeypatch.setattr(stats_mod, "collect_entry_metadata", slow_entry)
    walls = []
    real_merge = LakeTable.merge_cdc

    def timed_merge(self, *args, **kwargs):
        t0 = time.monotonic()
        try:
            return real_merge(self, *args, **kwargs)
        finally:
            walls.append(time.monotonic() - t0)

    monkeypatch.setattr(LakeTable, "merge_cdc", timed_merge)

    events = gen_change_events(spark, n_events=1000, n_keys=100, events_per_token=500)
    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir)
    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=2, merge_mode="mor",
        bloom_columns=["commit"],
    )
    pipe = CdcPipeline(
        spark, CFG, table, log_dir,
        checkpoint_dir=f"{tmpdir_path}/ckpt", pipeline_id="phases",
    )
    pipe.run_available_now(timeout_sec=300)

    applied = [r for r in pipe.lineage() if r["applied"]]
    assert len(applied) == len(walls) >= 1
    for rec, wall in zip(applied, walls):
        ph = rec["merge_phases"]
        assert ph["metadata_on"] == "driver"  # a small bloom commit
        assert ph["metadata_sec"] >= 0.2
        parts = ("fold_and_discover_sec", "merge_write_sec", "metadata_sec", "commit_sec")
        assert sum(ph[k] for k in parts) <= wall + 0.005
    table = LakeTable(spark, table.path)
    entries = [e for es in table.manifest["buckets"].values() for e in es]
    assert entries and all("bloom_ref" in e for e in entries)


def test_lineage_says_where_discovery_ran(spark, tmpdir_path, monkeypatch):
    """Each applied epoch's ``fold`` record names where its discovery ran
    (``discovery_on``) and what it cost (``discover_sec``): ``driver`` for
    a small epoch, ``tasks`` for one past ``DRIVER_DISCOVERY_MAX_BYTES``
    (forced here by setting the constant to 0), with the same table
    state either way."""
    from sap_spark.streaming import pipeline

    events = gen_change_events(spark, n_events=2000, n_keys=150, events_per_token=1000)
    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir)
    images = {}
    for on, cap in (("driver", pipeline.DRIVER_DISCOVERY_MAX_BYTES), ("tasks", 0)):
        monkeypatch.setattr(pipeline, "DRIVER_DISCOVERY_MAX_BYTES", cap)
        table = LakeTable.create(
            spark, f"{tmpdir_path}/{on}", TARGET_SCHEMA,
            key_columns=["repo", "path"], num_buckets=4,
        )
        pipe = CdcPipeline(
            spark, CFG, table, log_dir,
            checkpoint_dir=f"{tmpdir_path}/ckpt-{on}", pipeline_id=on,
        )
        pipe.run_available_now(timeout_sec=300)
        applied = [r for r in pipe.lineage() if r["applied"]]
        assert applied
        for rec in applied:
            assert rec["fold"]["discovery_on"] == on
            assert 0 <= rec["fold"]["discover_sec"] <= rec["elapsed_sec"]
        images[on] = (
            LakeTable(spark, table.path).read().orderBy("repo", "path")
            .toPandas().reset_index(drop=True)
        )
    assert images["driver"].equals(images["tasks"])
    assert images["driver"].equals(fold_to_frame(events.toPandas()))
