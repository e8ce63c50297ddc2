"""Randomized crash-chaos testing of the streaming CDC pipeline.

The fixed-point crash tests (test_pipeline_e2e.py, test_multitable_pipeline.py)
each pin ONE failure site. This suite drives the same exactly-once machinery
through a seeded RANDOM schedule: an adversarial generated log (hot-repo skew,
same-token ROCANCEL chains, cross-token duplicate deliveries), random epoch
slicing, and crashes injected at random commit points in BOTH failure windows

- ``pre``  — after bucket files are written, before the manifest pointer
  flips (the orphaned-files window), and
- ``post`` — after the pointer flips, before Structured Streaming records
  the epoch in its checkpoint (the replayed-epoch window; the committed-batch
  ledger must turn the replay into a no-op),

then resumes from the same checkpoint until the replay completes. Invariants
asserted at every crash: the table stays loadable and readable (no partial
manifest ever visible). At completion: final state equals the sequential
oracle fold, and expiring snapshots (reclaiming any crashed attempt's
orphans) leaves the state intact.

Reference semantics anchor: exactly-once MERGE with transactional commit
markers and checkpoint resume per BASELINE.json north_star; the reference
plugin itself restarts whole extractions on failure (single NoOpSplit,
ODataEntityInputFormat.java:33-43) — the randomized recovery contract here is
the engine's generalization.
"""

from __future__ import annotations

import random

import pytest
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

MAX_CRASHES = 4
MAX_ATTEMPTS = 12


class _CommitChaos:
    """Seeded crash injector around LakeTable._commit.

    Each commit call draws once: with probability ``p`` (until the crash
    budget is spent) it raises in a randomly chosen window — 'pre' before
    the real commit runs, 'post' after the pointer has flipped but before
    control returns to the streaming engine.
    """

    def __init__(self, rng: random.Random, real_commit, p: float = 0.35):
        self.rng = rng
        self.real_commit = real_commit
        self.p = p
        self.left = MAX_CRASHES
        self.injected = 0

    def __call__(self, table, manifest, **kwargs):
        site = None
        if self.left > 0 and self.rng.random() < self.p:
            self.left -= 1
            self.injected += 1
            site = self.rng.choice(["pre", "post"])
        if site == "pre":
            raise RuntimeError("chaos: crash before manifest pointer flip")
        out = self.real_commit(table, manifest, **kwargs)
        if site == "post":
            raise RuntimeError("chaos: crash after commit, before checkpoint")
        return out


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_random_crash_schedule_converges_to_oracle(spark, tmpdir_path, seed):
    rng = random.Random(seed)

    n_events = rng.choice([2000, 2500])
    events_per_token = rng.choice([250, 500])
    events = gen_change_events(
        spark,
        n_events=n_events,
        n_keys=rng.choice([150, 300]),
        events_per_token=events_per_token,
        skew=3.0,
        rocancel_rate=0.05,
        dup_rate=0.05,
    ).cache()
    expected = fold_to_frame(events.toPandas())

    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir, files_per_token=rng.choice([1, 2]))

    merge_mode = rng.choice(["cow", "mor"])
    table = LakeTable.create(
        spark,
        f"{tmpdir_path}/repos",
        TARGET_SCHEMA,
        key_columns=["repo", "path"],
        num_buckets=rng.choice([4, 8]),
        merge_mode=merge_mode,
    )
    pipe_kwargs = dict(
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=rng.choice([1, 2, 3]),
        pipeline_id=f"chaos-{seed}",
    )
    if merge_mode == "mor":
        # small knee so the compaction commit path is inside the chaos window
        pipe_kwargs["auto_compact_delta_files"] = 4

    real_commit = LakeTable._commit
    chaos = _CommitChaos(rng, real_commit)
    LakeTable._commit = lambda self, manifest, **kw: chaos(self, manifest, **kw)
    attempts = 0
    try:
        while True:
            attempts += 1
            assert attempts <= MAX_ATTEMPTS, "chaos run did not converge"
            pipe = CdcPipeline(
                spark, CFG, LakeTable(spark, table.path), log_dir, **pipe_kwargs
            )
            try:
                pipe.run_available_now(timeout_sec=600)
                break
            except Exception as exc:  # noqa: BLE001 — must be OUR crash
                assert "chaos:" in str(exc), f"non-injected failure: {exc!r}"
            # crash-point invariant: the table is loadable and readable at
            # EVERY randomly chosen failure point — readers never observe a
            # partial manifest or a half-applied epoch
            survivor = LakeTable(spark, table.path)
            survivor.read().count()
    finally:
        LakeTable._commit = real_commit

    final = LakeTable(spark, table.path)
    got = final.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got.equals(expected), (
        f"seed={seed} mode={merge_mode} diverged after "
        f"{chaos.injected} injected crashes / {attempts} attempts"
    )

    # any crashed attempt's orphaned files are unreferenced; reclaiming them
    # (and old snapshots) must not disturb the final state
    final.expire_snapshots(keep_last=1)
    still = (
        LakeTable(spark, table.path)
        .read()
        .orderBy("repo", "path")
        .toPandas()
        .reset_index(drop=True)
    )
    assert still.equals(expected)

    # the schedule must have actually exercised the chaos path at least once
    # across the suite's seeds; individual seeds may legitimately draw zero
    # crashes only if the budget-probability draw never fired
    assert chaos.injected >= 1 or attempts == 1


@pytest.mark.parametrize("seed", [5, 29])
def test_random_crash_schedule_with_auto_expiry(spark, tmpdir_path, seed):
    """Crashes composed with IN-STREAM snapshot expiry (auto_expire_keep):
    a 'post' crash can die between the merge commit and the epoch tail's
    expiry, a 'pre' crash leaves orphans that a later epoch's grace=0
    expiry deletes mid-stream — the resumed pipeline must still converge
    to the oracle fold with metadata growth bounded throughout."""
    rng = random.Random(seed)
    events = gen_change_events(
        spark,
        n_events=2400,
        n_keys=200,
        events_per_token=300,  # 8 tokens → 8 epochs at one file/trigger
        skew=3.0,
        rocancel_rate=0.05,
        dup_rate=0.05,
    ).cache()
    expected = fold_to_frame(events.toPandas())
    log_dir = f"{tmpdir_path}/log"
    write_change_log(events, log_dir, files_per_token=1)
    table = LakeTable.create(
        spark,
        f"{tmpdir_path}/repos",
        TARGET_SCHEMA,
        key_columns=["repo", "path"],
        num_buckets=rng.choice([4, 8]),
        merge_mode=rng.choice(["cow", "mor"]),
    )
    pipe_kwargs = dict(
        checkpoint_dir=f"{tmpdir_path}/ckpt",
        max_files_per_trigger=1,
        pipeline_id=f"chaos-exp-{seed}",
        auto_expire_keep=2,
        auto_expire_slack=1,
        auto_expire_grace_seconds=0.0,
    )
    if table.merge_mode == "mor":
        pipe_kwargs["auto_compact_delta_files"] = 4

    real_commit = LakeTable._commit
    chaos = _CommitChaos(rng, real_commit)
    LakeTable._commit = lambda self, manifest, **kw: chaos(self, manifest, **kw)
    attempts = 0
    try:
        while True:
            attempts += 1
            assert attempts <= MAX_ATTEMPTS, "chaos run did not converge"
            pipe = CdcPipeline(
                spark, CFG, LakeTable(spark, table.path), log_dir, **pipe_kwargs
            )
            try:
                pipe.run_available_now(timeout_sec=600)
                break
            except Exception as exc:  # noqa: BLE001 — must be OUR crash
                assert "chaos:" in str(exc), f"non-injected failure: {exc!r}"
            survivor = LakeTable(spark, table.path)
            survivor.read().count()
    finally:
        LakeTable._commit = real_commit

    final = LakeTable(spark, table.path)
    got = final.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got.equals(expected), (
        f"seed={seed} mode={final.merge_mode} diverged after "
        f"{chaos.injected} injected crashes / {attempts} attempts"
    )
    # metadata growth stayed bounded through crashes + resumes (+1: the
    # count may sit one past keep+slack right after the last commit)
    assert final.retained_manifest_count() <= 2 + 1 + 1


@pytest.mark.parametrize("seed", [7, 19])
def test_multi_writer_chaos_converges_to_union_oracle(spark, tmpdir_path, seed):
    """TWO concurrent streaming pipelines into one MOR table, with random
    crashes injected into BOTH writers' commit paths (both failure
    windows), each crashed writer resumed from its own checkpoint until
    both complete. Every interleaving must compose: commit races rebase
    (MOR appends), crashed epochs replay as no-ops, and the final state
    equals the sequential fold of the UNION of both logs."""
    import threading

    import pyspark.sql.functions as F

    rng = random.Random(seed)
    feed1 = gen_change_events(
        spark, n_events=2000, n_keys=150, events_per_token=500,
        rocancel_rate=0.05, dup_rate=0.05,
    ).cache()
    feed2 = (
        gen_change_events(
            spark, n_events=2000, n_keys=150, events_per_token=500,
            rocancel_rate=0.05, dup_rate=0.05,
        )
        .withColumn("event_seq", F.col("event_seq") + F.lit(10_000_000))
        .withColumn("cancel_seq", F.col("cancel_seq") + F.lit(10_000_000))
        .withColumn("repo", F.concat(F.lit("x-"), F.col("repo")))
        .withColumn("delta_token", F.concat(F.lit("X"), F.col("delta_token")))
        .cache()
    )
    expected = fold_to_frame(feed1.unionByName(feed2).toPandas())
    logs = [f"{tmpdir_path}/log1", f"{tmpdir_path}/log2"]
    write_change_log(feed1, logs[0])
    write_change_log(feed2, logs[1])

    table = LakeTable.create(
        spark, f"{tmpdir_path}/repos", TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8, merge_mode="mor",
    )

    real_commit = LakeTable._commit
    chaos = _CommitChaos(rng, real_commit)
    lock = threading.Lock()

    def locked_chaos(self, manifest, **kw):
        # the draw must be serialized for determinism; the REAL commit runs
        # outside the lock so the writers' commits still genuinely race
        with lock:
            site = None
            if chaos.left > 0 and chaos.rng.random() < chaos.p:
                chaos.left -= 1
                chaos.injected += 1
                site = chaos.rng.choice(["pre", "post"])
        if site == "pre":
            raise RuntimeError("chaos: crash before manifest pointer flip")
        out = real_commit(self, manifest, **kw)
        if site == "post":
            raise RuntimeError("chaos: crash after commit, before checkpoint")
        return out

    LakeTable._commit = locked_chaos
    done = [False, False]
    attempts = 0
    try:
        while not all(done):
            attempts += 1
            assert attempts <= MAX_ATTEMPTS, "multi-writer chaos did not converge"
            failures: dict[int, Exception] = {}

            def run(i):
                pipe = CdcPipeline(
                    spark, CFG, LakeTable(spark, table.path), logs[i],
                    checkpoint_dir=f"{tmpdir_path}/ckpt{i}",
                    max_files_per_trigger=2,
                    pipeline_id=f"mw-chaos-{i}",
                )
                try:
                    pipe.run_available_now(timeout_sec=600)
                    done[i] = True
                except Exception as exc:  # noqa: BLE001 — must be OUR crash
                    failures[i] = exc

            threads = [
                threading.Thread(target=run, args=(i,))
                for i in range(2)
                if not done[i]
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            for exc in failures.values():
                assert "chaos:" in str(exc), f"non-injected failure: {exc!r}"
            # crash-point invariant: readable at every interleaved stop
            LakeTable(spark, table.path).read().count()
    finally:
        LakeTable._commit = real_commit

    final = LakeTable(spark, table.path)
    got = final.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    assert got.equals(expected), (
        f"seed={seed} diverged after {chaos.injected} injected crashes / "
        f"{attempts} attempts"
    )
    final.expire_snapshots(keep_last=1)
    still = (
        LakeTable(spark, table.path).read()
        .orderBy("repo", "path").toPandas().reset_index(drop=True)
    )
    assert still.equals(expected)


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_crash_schedule_on_spark_discovery(spark, tmpdir_path, seed, spark_discovery):
    test_random_crash_schedule_converges_to_oracle(spark, tmpdir_path, seed)


@pytest.mark.parametrize("seed", [5, 29])
def test_crash_schedule_with_auto_expiry_on_spark_discovery(
    spark, tmpdir_path, seed, spark_discovery
):
    test_random_crash_schedule_with_auto_expiry(spark, tmpdir_path, seed)


@pytest.mark.parametrize("seed", [7, 19])
def test_multi_writer_chaos_on_spark_discovery(
    spark, tmpdir_path, seed, spark_discovery
):
    test_multi_writer_chaos_converges_to_union_oracle(spark, tmpdir_path, seed)
