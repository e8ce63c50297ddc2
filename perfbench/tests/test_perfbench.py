"""The benchmark's own tests: smoke-size runs emit every named metric with
its unit, the oracle catches a corrupted row, and the command fails
cleanly where the engine is absent.

    python -m pytest perfbench/tests -q

Each smoke run starts (and ends) its own Spark JVM, so this file takes a
few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _expected(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


BENCHMARKED = [w["name"] for w in SPEC["workloads"]]
CASES = [(w, False) for w in WORKLOADS] + [(w, True) for w in BENCHMARKED]


@pytest.mark.parametrize("workload,trace", CASES)
def test_smoke_run_emits_every_metric(workload, trace, tmp_path):
    result = run.run(workload, seed=5, seconds=0, trace=trace, scale=0.02,
                     workdir=str(tmp_path / "work"))
    details = result.pop("details")
    assert result["correct"] and result["failed"] == 0, details["checks"]
    assert result["attempted"] >= 1
    want = _expected("per_layer" if trace else "end_to_end")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if trace:
        spans = {s["id"]: s for s in details["spans"]}
        for s in spans.values():
            parent = spans.get(s["parent"])
            if parent is not None:  # children nest inside their parent
                assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
        assert result["metrics"]["streaming.outside_apply_s"]["value"] >= 0
    else:
        assert result["metrics"]["events_per_s"]["value"] > 0


def test_oracle_fails_on_a_corrupted_row(tmp_path):
    from pyspark.sql import functions as F

    from sap_spark.config import EngineConfig
    from sap_spark.plans.lake import LakeTable
    from sap_spark.streaming.pipeline import CdcPipeline

    work = str(tmp_path)
    os.makedirs(os.path.join(work, "tmp"))
    spark = run.start_session(work, trace=False)
    try:
        log = os.path.join(work, "log")
        inputs.write_change_log(spark, log, seed=3, n_events=3_000, n_keys=400,
                                events_per_token=500)
        table = LakeTable.create(spark, os.path.join(work, "t"), inputs.TABLE_SCHEMA,
                                 key_columns=inputs.KEY_COLUMNS, num_buckets=4)
        CdcPipeline(spark, EngineConfig(num_buckets=4).validate(), table, log,
                    checkpoint_dir=os.path.join(work, "ckpt"),
                    max_files_per_trigger=2).run_available_now(timeout_sec=170)
        events = os.path.join(log, "*", "*.parquet")
        assert oracle.check_final_state(spark, table.path, events, work)["ok"]

        # rewrite one live row's content behind the log's back
        victim = LakeTable(spark, table.path).read().limit(1)
        bad = victim.select(
            *inputs.KEY_COLUMNS, "commit", "lang",
            F.concat(F.col("content"), F.lit("!")).alias("content"),
            F.lit("U").alias("op"), F.lit(1 << 40).cast("long").alias("event_seq"),
        )
        LakeTable(spark, table.path).merge_cdc(bad, batch_id="corrupt")
        res = oracle.check_final_state(spark, table.path, events, work)
        assert not res["ok"]
        assert (res["missing"], res["extra"]) == (1, 1)
    finally:
        run.stop_session(spark)


def test_command_fails_without_the_engine(tmp_path):
    """A directory holding only the benchmark: non-zero exit, no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [*SPEC["command"], "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
