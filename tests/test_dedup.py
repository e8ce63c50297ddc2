"""Distributed CDC fold vs the sequential oracle, for both LWW folds."""

import pyspark.sql.functions as F
import pytest

from sap_spark.config import EngineConfig
from sap_spark.operators.dedup import drop_cancelled, fold_changes, replay
from sap_spark.sources.datagen import gen_change_events

from tests.folds import FOLDS, replay_with
from tests.oracle import fold_to_frame, sha256_hex

CFG = EngineConfig().validate()


@pytest.fixture(scope="module")
def events(spark):
    return gen_change_events(
        spark, n_events=5000, n_keys=500, events_per_token=1000
    ).cache()


@pytest.fixture(scope="module")
def oracle_state(events):
    return fold_to_frame(events.toPandas())


def test_drop_cancelled(spark, events):
    pdf = events.toPandas().drop_duplicates("event_seq")
    cancelled = set(
        pdf.loc[pdf.rocancel & pdf.cancel_seq.notna(), "cancel_seq"].astype("int64")
    )
    surviving = drop_cancelled(events, CFG)
    got = set(r["event_seq"] for r in surviving.select("event_seq").distinct().collect())
    expected = set(
        pdf.loc[~pdf.rocancel & ~pdf.event_seq.isin(cancelled), "event_seq"]
    )
    assert got == expected


@pytest.mark.parametrize("fold", list(FOLDS))
def test_replay_matches_sequential_fold(spark, events, oracle_state, fold):
    got = (
        replay_with(fold, events, CFG)
        .orderBy("repo", "path")
        .toPandas()
        .reset_index(drop=True)
    )
    assert list(got.columns) == ["repo", "path", "commit", "lang", "content"]
    assert len(got) == len(oracle_state)
    assert got.equals(oracle_state), "final state differs from sequential fold"


def test_sha256_invariant(spark, events, oracle_state):
    """Per-row invariant vs the reference replay: sha256(content) equality
    (BASELINE.json input_hint)."""
    got = (
        replay(events, CFG)
        .select("repo", "path", F.sha2("content", 256).alias("sha"))
        .orderBy("repo", "path")
        .toPandas()
    )
    expected = [sha256_hex(c) for c in oracle_state["content"]]
    assert got["sha"].tolist() == expected


def test_fold_changes_keeps_last_delete(spark, events):
    """Keys whose last surviving event is D appear in fold_changes with op=D
    but not in replay output."""
    folded = fold_changes(events, CFG)
    n_deleted = folded.where(F.col("op") == "D").count()
    assert n_deleted > 0
    assert folded.count() - n_deleted == replay(events, CFG).count()


def test_strategies_agree(spark, events):
    """The fetch fold and the salted window it flips to on a hot key
    yield identical rows."""
    outs = [
        fold(events, CFG)
        .orderBy("repo", "path")
        .select("repo", "path", "event_seq", "op", "commit")
        .collect()
        for fold in FOLDS.values()
    ]
    assert outs[0] == outs[1]


def test_fetch_unique_per_key_with_duplicate_deliveries(spark, events):
    """Duplicate deliveries (same event_seq, later token) must yield exactly
    one winner row per key in the fetch path — the join on
    (key, seq, token) with max(struct(seq, token)) picks one delivery."""
    folded = fold_changes(events, CFG)
    dup_keys = folded.groupBy("repo", "path").count().where(F.col("count") > 1)
    assert dup_keys.count() == 0


def test_fetch_unique_with_within_token_duplicate(spark, events):
    """A duplicate delivery of the winning event INSIDE one token (same key,
    seq, token delivered twice) must still yield ≤1 row per key — the fetch
    join alone would fan out; the guard collapses it."""
    winners_sample = (
        fold_changes(events, CFG).limit(5).drop("op", "event_seq")
    )
    # re-inject an exact duplicate row of 5 winning deliveries
    dup_rows = events.join(
        winners_sample.select("repo", "path"), on=["repo", "path"], how="left_semi"
    )
    poisoned = events.unionByName(dup_rows)
    folded = fold_changes(poisoned, CFG)
    over = folded.groupBy("repo", "path").count().where(F.col("count") > 1)
    assert over.count() == 0
    # and the fold result is unchanged vs the clean log
    clean = (
        fold_changes(events, CFG)
        .orderBy("repo", "path").select("repo", "path", "event_seq", "op").collect()
    )
    got = (
        folded.orderBy("repo", "path").select("repo", "path", "event_seq", "op").collect()
    )
    assert got == clean


def test_fetch_without_token_column_falls_back(spark, events, oracle_state):
    """Without a delivery id (no delta_token column) the fetch fold's
    payload probe orders duplicate deliveries by event_seq alone — their
    payloads are identical, so the final state still matches the
    sequential fold."""
    no_tok = events.drop("delta_token")
    got = (
        replay(no_tok, CFG)
        .orderBy("repo", "path")
        .toPandas()
        .reset_index(drop=True)
    )
    assert got.equals(oracle_state)


def test_tiebreak_is_max_token_across_strategies(spark):
    """Pinned LWW tie-break: a duplicate delivery (same event_seq under a
    later delta_token) resolves to the LARGEST token in every token-aware
    fold. Payloads deliberately differ per delivery here (violating the
    identical-payload contract) purely to make the tie-break observable."""
    rows = [
        ("r1", "a.py", 5, "T01", "I", "c-old", "py", "first delivery"),
        ("r1", "a.py", 5, "T03", "I", "c-new", "py", "redelivery"),
        ("r1", "a.py", 5, "T02", "I", "c-mid", "py", "middle delivery"),
        ("r2", "b.py", 9, "T01", "I", "c9", "py", "single"),
    ]
    log = spark.createDataFrame(
        rows,
        "repo string, path string, event_seq long, delta_token string, "
        "op string, commit string, lang string, content string",
    )
    for name, fold in FOLDS.items():
        got = {
            (r["repo"], r["path"]): r["commit"]
            for r in fold(log, CFG).collect()
        }
        assert got == {("r1", "a.py"): "c-new", ("r2", "b.py"): "c9"}, name


def test_strategies_agree_with_duplicate_deliveries(spark):
    """Contract-conformant duplicate deliveries (identical payloads) yield
    value-identical one-row-per-key output under both folds."""
    base = [
        ("r1", "a.py", 5, "T01", "I", "c5", "py", "body5"),
        ("r1", "a.py", 7, "T02", "U", "c7", "py", "body7"),
        ("r1", "a.py", 7, "T03", "U", "c7", "py", "body7"),  # redelivery
        ("r1", "a.py", 7, "T03", "U", "c7", "py", "body7"),  # within-token dup
        ("r2", "b.py", 9, "T02", "I", "c9", "py", "body9"),
        ("r2", "b.py", 9, "T04", "I", "c9", "py", "body9"),  # redelivery
    ]
    log = spark.createDataFrame(
        base,
        "repo string, path string, event_seq long, delta_token string, "
        "op string, commit string, lang string, content string",
    )
    outs = []
    for name, fold in FOLDS.items():
        out = (
            fold(log, CFG)
            .orderBy("repo", "path")
            .select("repo", "path", "event_seq", "op", "commit", "content")
            .collect()
        )
        assert len(out) == 2, name
        outs.append(out)
    assert outs[0] == outs[1]


def test_null_rocancel_is_not_a_cancel(spark):
    """A NULL rocancel flag on a lax foreign log means not-a-cancel —
    the event must survive the batch fold, not vanish under 3VL
    (~NULL filters the row with no trace). The streaming path
    quarantines such rows first when a DLQ is configured; the public
    batch entry points must be loss-free regardless."""
    rows = [
        ("t0", 1, "I", None, None, "r", "p", "c1", "py", "body1"),
        ("t0", 2, "U", False, None, "r", "p", "c2", "py", "body2"),
    ]
    ddl = (
        "delta_token string, event_seq long, op string, rocancel boolean,"
        " cancel_seq long, repo string, path string, commit string,"
        " lang string, content string"
    )
    ev = spark.createDataFrame(rows, schema=ddl)
    surviving = drop_cancelled(ev, CFG)
    assert surviving.count() == 2  # the NULL-flag event is retained
    final = fold_changes(ev, CFG)
    assert final.count() == 1 and final.first()["commit"] == "c2"
