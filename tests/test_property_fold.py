"""Property-based fold testing: random adversarial change logs vs the
sequential oracle, for both LWW folds.

Hypothesis explores corners the fixed fixtures can't: cancel chains at
token boundaries, delete-then-reinsert, duplicate deliveries of deletes,
single-key hot logs, empty-after-cancellation batches.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sap_spark.config import EngineConfig
from sap_spark.operators.dedup import fold_changes

from tests.folds import FOLDS, replay_with
from tests.oracle import fold_to_frame

CFG = EngineConfig().validate()

COLUMNS = [
    "delta_token", "event_seq", "op", "rocancel", "cancel_seq",
    "repo", "path", "commit", "lang", "content",
]

SPARK_SCHEMA = (
    "delta_token string, event_seq long, op string, rocancel boolean, "
    "cancel_seq long, repo string, path string, commit string, lang string, "
    "content string"
)


@st.composite
def event_logs(draw) -> pd.DataFrame:
    n_keys = draw(st.integers(1, 4))
    n_events = draw(st.integers(1, 28))
    token_size = draw(st.integers(1, 8))
    rows = []
    for seq in range(n_events):
        tok = seq // token_size
        key = draw(st.integers(0, n_keys - 1))
        # None = malformed null-op envelope (lax foreign log): must be
        # inert in every strategy and in the incremental merge path —
        # the oracle skips it (tests/oracle.py)
        op = draw(
            st.sampled_from(["I", "I", "U", "U", "D", "D", None])
        )
        prior_same_token = [
            r for r in rows
            if r["_tok"] == tok and not r["rocancel"]
        ]
        rocancel = bool(prior_same_token) and draw(st.integers(0, 3)) == 0
        cancel_seq = (
            draw(st.sampled_from([r["event_seq"] for r in prior_same_token]))
            if rocancel
            else None
        )
        rows.append(
            {
                "_tok": tok,
                "delta_token": f"D{tok:07d}",
                "event_seq": seq,
                "op": op,
                "rocancel": rocancel,
                "cancel_seq": cancel_seq,
                "repo": f"org/r{key}",
                "path": f"src/f{key}.py",
                "commit": f"h{seq}",
                "lang": "py",
                "content": None if op == "D" else f"content-{key}-v{seq}",
            }
        )
    # duplicate deliveries: re-emit non-cancelled, non-rocancel events in a
    # later token (SLT redelivers whole delta units under new tokens)
    cancelled = {r["cancel_seq"] for r in rows if r["rocancel"]}
    max_tok = rows[-1]["_tok"] if rows else 0
    dup_candidates = [
        r for r in rows
        if not r["rocancel"] and r["event_seq"] not in cancelled
        and r["_tok"] < max_tok
    ]
    for r in dup_candidates:
        if draw(st.integers(0, 4)) == 0:
            bump = draw(st.integers(1, 2))
            tok = min(r["_tok"] + bump, max_tok)
            dup = dict(r, _tok=tok, delta_token=f"D{tok:07d}")
            rows.append(dup)
    return pd.DataFrame(rows, columns=["_tok", *COLUMNS]).drop(columns="_tok")


@given(log=event_logs())
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@pytest.mark.parametrize("fold", list(FOLDS))
def test_fold_matches_sequential_oracle(spark, fold, log):
    expected = fold_to_frame(log)
    sdf = spark.createDataFrame(log, schema=SPARK_SCHEMA)
    got = (
        replay_with(fold, sdf, CFG)
        .orderBy("repo", "path")
        .toPandas()
        .reset_index(drop=True)
    )
    assert got.equals(expected), (
        f"fold={fold}\nlog:\n{log}\ngot:\n{got}\nexpected:\n{expected}"
    )


@given(log=event_logs())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_fold_at_most_one_row_per_key(spark, log):
    sdf = spark.createDataFrame(log, schema=SPARK_SCHEMA)
    folded = fold_changes(sdf, CFG).toPandas()
    assert not folded.duplicated(subset=["repo", "path"]).any()


@given(log=event_logs(), data=st.data())
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_incremental_ingest_matches_oracle_both_modes(spark, mode, log, data):
    """Random adversarial log, split at a random token boundary into two
    ingest batches (ROCANCEL scope = token, so any token-aligned split is
    legal), applied through a COW or MOR table — final read() must equal
    the sequential fold of the whole log. Covers the read-time version
    gate against cross-batch duplicates and delete/reinsert chains."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from sap_spark.plans.lake import LakeTable
    from sap_spark.streaming.pipeline import ingest_batch

    expected = fold_to_frame(log)
    toks = sorted(log["delta_token"].unique())
    cut = data.draw(st.integers(0, len(toks)), label="token_cut")
    first = log[log["delta_token"].isin(toks[:cut])]
    second = log[log["delta_token"].isin(toks[cut:])]

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("commit", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("content", T.StringType(), True),
        ]
    )
    wd = tempfile.mkdtemp(prefix="prop_ingest_")
    try:
        table = LakeTable.create(
            spark, f"{wd}/t", schema, key_columns=["repo", "path"],
            num_buckets=4, merge_mode=mode,
        )
        for i, part in enumerate((first, second)):
            if len(part) == 0:
                continue
            batch = spark.createDataFrame(part, schema=SPARK_SCHEMA)
            ingest_batch(batch, LakeTable(spark, table.path), CFG, f"b{i}")
        got = (
            LakeTable(spark, table.path).read()
            .orderBy("repo", "path").toPandas().reset_index(drop=True)
        )
        assert got.equals(expected), (
            f"mode={mode} cut={cut}\nlog:\n{log}\ngot:\n{got}\n"
            f"expected:\n{expected}"
        )
    finally:
        shutil.rmtree(wd, ignore_errors=True)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_incremental_ingest_matches_oracle_on_spark_discovery(
    spark, mode, spark_discovery
):
    test_incremental_ingest_matches_oracle_both_modes(spark, mode)
