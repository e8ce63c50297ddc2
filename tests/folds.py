"""The two LWW folds the engine runs, for tests that check each against
the sequential oracle.

- ``fetch``: :func:`fold_changes` — winner selection + broadcast payload
  fetch, the fold every batch takes by default;
- ``window_salted``: the salted two-level window over the surviving
  events — the fold ``ingest_batch`` flips to when a batch's hottest key
  reaches ``hot_key_threshold``.

Both return the same projection (:func:`fold_output_columns`).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from sap_spark.operators.dedup import (
    drop_cancelled,
    fold_changes,
    fold_output_columns,
    lww_window,
)


def window_fold(events, cfg):
    out = lww_window(drop_cancelled(events, cfg), cfg)
    keep = fold_output_columns(events, cfg)
    return out.select(*[c for c in keep if c in out.columns])


FOLDS = {"fetch": fold_changes, "window_salted": window_fold}


def replay_with(fold: str, events, cfg):
    """``operators.dedup.replay`` over the named fold: final rows only."""
    folded = FOLDS[fold](events, cfg)
    return folded.where(F.col(cfg.op_column) != "D").drop(
        cfg.op_column, cfg.order_column
    )
