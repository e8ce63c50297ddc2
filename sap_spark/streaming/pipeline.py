"""The CDC ingest pipeline: change-log tail → fold → exactly-once MERGE.

Architecture (SURVEY.md §3.4, BASELINE.json north_star):

    readStream(change log)                 # delta tokens ≈ micro-batches
      → foreachBatch:
          observe lineage (token range, counts)     # no extra pass
          cancel set → LWW winners → payload fetch  # operators/dedup.py
          evolution gate → bucketed COW MERGE       # plans/lake.py
          commit marker = (pipeline, epoch_id)      # exactly-once
      → checkpointLocation                          # resumable delta token

Exactly-once: Structured Streaming replays a failed epoch with the same
``epoch_id`` and the same input slice; ``LakeTable.merge_cdc`` commits the
``batch_id`` marker atomically with the data, so a replayed epoch is a
no-op. Together: effectively-once end-to-end.

Resume: the checkpoint's offset log records which log files (= delta
tokens) are consumed — the delta token IS the resumable checkpoint, as in
SAP ODP (delta tokens per BASELINE.json; the reference's batch source has
no resume at all).

Lineage + metrics (north_rule "per-partition lineage offsets and
throughput metrics"): each epoch appends a JSON line to
``<table>/_meta/lineage.jsonl`` with the token range, event/key counts,
timing (via ``DataFrame.observe`` during the merge job itself — no second
pass over the batch), and ``bucket_offsets`` — the per-partition high-water
offsets {bucket: {max_seq, n_rows, max_key_events}}, computed by the same
discovery that finds the merge's affected buckets (``max_key_events`` is
the bucket's hottest-key surviving-event count, so the hot-key probe
costs no job of its own). A small epoch discovers in one collect folded
on the driver, a large one in persisted Spark jobs (:func:`discover`);
the ``fold`` record says which (``discovery_on``) and how long it took
(``discover_sec``). ``bucket_high_water()`` folds the offsets across
epochs for per-partition resume verification.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import time

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sap_spark.config import ConfigError, EngineConfig
from sap_spark.plans.lake import LakeTable
from sap_spark.sources.changelog import read_changelog_stream


# A batch whose narrow discovery projection (keys, seq, op, rocancel,
# cancel-seq, bucket id) Catalyst sizes below this many bytes discovers
# on the driver: one collect, folded in Arrow. Larger batches, and any
# batch whose size is unknown, run the persisted Spark jobs. Driver
# memory sets the line, not speed: tools/bench_discovery.py
# (BENCH/DISCOVERY_r10.md) found the driver faster at every size up to
# 2M events (~71 MB estimated) on local[2] and local[4], while the Python
# driver's RSS grew ~5.5 bytes per estimated byte (+193 MB at 1M events,
# +338 MB at 2M). At 32 MiB the growth stays under ~200 MB, and 2M-event
# epochs (bench.py's headline replay) keep the task path. No cluster was
# measured.
DRIVER_DISCOVERY_MAX_BYTES = 32 << 20


@dataclass
class Discovery:
    """What a batch's fold and MERGE need to know before they run."""

    on: str  # "driver" (one collect, folded in Arrow) or "tasks"
    winners: DataFrame  # (key…, seq): each key's winning event_seq
    cancelled: "DataFrame | None"  # cancelled seqs; None without rocancel
    offsets: "dict[int, dict]"  # {bucket: {max_seq, n_rows, max_key_events}}
    sec: float  # wall time until the offsets were known


def _estimated_bytes(df: DataFrame) -> "int | None":
    """Catalyst's size estimate of ``df``'s optimized plan (no job)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


@contextlib.contextmanager
def discover(events: DataFrame, table: LakeTable, cfg: EngineConfig):
    """Find a batch's cancel set, per-key winners and bucket offsets.

    The locality is chosen before any job runs. A batch keyed on types
    Arrow groups as Spark does (``arrow_groups_like_spark``) whose narrow
    projection Catalyst sizes below ``DRIVER_DISCOVERY_MAX_BYTES``
    collects that projection in ONE job with no shuffle (executors compute
    the table's ``bucket_column``) and derives everything in Arrow on the
    driver (``operators/dedup.discover_arrow``); its winners and cancel
    set return to Spark as local relations, which launch no job. Any
    other batch persists the cancel set and the counted winner scan
    (``lww_winners(with_counts=True)``) and runs ONE bucket-keyed agg over
    them (``table.affected_bucket_offsets``); they are unpersisted when
    the context exits. Both yield the same :class:`Discovery`."""
    # call-time imports: tracing tools patch these module attributes
    from sap_spark.operators.dedup import (
        arrow_groups_like_spark,
        cancelled_seqs,
        discover_arrow,
        lww_winners,
    )

    keys, seq = list(cfg.key_columns), cfg.order_column
    t0 = time.monotonic()
    envelope = [cfg.op_column, cfg.rocancel_column, cfg.cancel_seq_column]
    narrow = events.select(
        *keys, seq, *[c for c in envelope if c in events.columns],
        table.bucket_column(events).alias("__bucket"),
    )
    fields = {f.name: f for f in narrow.schema.fields}
    size = _estimated_bytes(narrow)
    if (
        size is not None
        and size < DRIVER_DISCOVERY_MAX_BYTES
        and all(arrow_groups_like_spark(fields[k].dataType) for k in keys)
    ):
        import pyarrow as pa
        from pyspark.sql import types as T

        spark = events.sparkSession
        cancelled, winners, offsets = discover_arrow(
            narrow.toArrow(), cfg, "__bucket"
        )

        def local(rows: "pa.Table", types: "dict[str, T.DataType]"):
            return spark.createDataFrame(
                rows.select(list(types)),
                T.StructType([T.StructField(c, t) for c, t in types.items()]),
            )

        yield Discovery(
            "driver",
            local(winners, {c: fields[c].dataType for c in [*keys, seq]}),
            None if cancelled is None else local(
                pa.table({seq: cancelled}),
                {seq: fields[cfg.cancel_seq_column].dataType},
            ),
            offsets,
            round(time.monotonic() - t0, 4),
        )
        return
    counted = cancelled = None
    # the try spans from the FIRST persist: a discovery/fold failure
    # mid-epoch (foreachBatch retries the epoch) must not leak cached
    # blocks — retried persists would otherwise accumulate in executor
    # storage memory for the session's lifetime
    try:
        cancelled = cancelled_seqs(events, cfg)
        if cancelled is not None:
            cancelled = cancelled.persist()
        counted = lww_winners(
            events, cfg, cancelled=cancelled, with_counts=True
        ).persist()
        offsets = table.affected_bucket_offsets(
            counted, seq_column=seq, count_column="__n_events"
        )
        yield Discovery(
            "tasks", counted.select(*keys, seq), cancelled, offsets,
            round(time.monotonic() - t0, 4),
        )
    finally:
        if counted is not None:
            counted.unpersist()
        if cancelled is not None:
            cancelled.unpersist()


def ingest_batch(
    events: DataFrame,
    table: LakeTable,
    cfg: EngineConfig,
    batch_id: str,
    metrics_out: dict | None = None,
) -> bool:
    """Apply one batch of raw change events to a table (idempotent).

    One straight path for every batch:

    1. :func:`discover` finds the cancelled-seq set, each key's winning
       seq and surviving-event count, and — bucketed by the table's own
       ``bucket_column`` — the exact merge buckets with their lineage
       offsets ``{bucket: {max_seq, n_rows, max_key_events}}``. A small
       batch does this in one collect folded in Arrow on the driver; a
       large one in persisted Spark jobs (cancel set, winner scan, one
       bucket-keyed agg);
    2. the batch's hottest-key count is the max of ``max_key_events``
       over buckets, which is the max over keys;
    3. the payloads are fetched through a broadcast probe of the winner
       set (``fetch_winner_payloads``) — or, when the hottest key carries
       at least ``cfg.hot_key_threshold`` surviving events, folded by the
       salted two-level window (``lww_window``), whose every exchange is
       explicitly bounded (per-(key, salt) partitions of ≤
       hot/salt_partitions rows) instead of relying on partial
       aggregation under adversarial skew.

    The payload fold stays lazy and single-pass inside the MERGE write
    job. The fold that ran (``strategy``: ``fetch`` or ``window_salted``),
    the hottest-key count, where discovery ran (``discovery_on``:
    ``driver`` or ``tasks``) and how long it took (``discover_sec``), and
    the bucket offsets are reported through ``metrics_out`` (and the
    pipeline's lineage).
    """
    # call-time imports: tracing tools patch these module attributes
    from sap_spark.operators.dedup import (
        drop_cancelled,
        fetch_winner_payloads,
        fold_output_columns,
        lww_window,
    )

    # Replay fast path: a crash between the table commit and the
    # checkpoint commit replays the epoch with the same batch_id —
    # merge_cdc would no-op on its batch marker anyway, but only AFTER
    # this function ran discovery over the whole batch. One driver-side
    # set lookup makes the replay near-free; last_merge_metrics mirrors
    # merge_cdc's replay contract (reset so lineage never reports the
    # previous merge's timings).
    if batch_id in table.committed_batches():
        table.last_merge_metrics = None
        return False

    with discover(events, table, cfg) as found:
        hot = max(
            (o["max_key_events"] for o in found.offsets.values()), default=0
        )
        if hot >= cfg.hot_key_threshold:
            chosen = "window_salted"
            folded = lww_window(
                drop_cancelled(events, cfg, cancelled=found.cancelled), cfg
            )
        else:
            chosen = "fetch"
            folded = fetch_winner_payloads(
                events, found.winners, cfg, cancelled=found.cancelled
            )
        keep = fold_output_columns(events, cfg)
        folded = folded.select(*[c for c in keep if c in folded.columns])
        if metrics_out is not None:
            metrics_out["strategy"] = chosen
            metrics_out["hot_key_count"] = int(hot)
            metrics_out["discovery_on"] = found.on
            metrics_out["discover_sec"] = found.sec
            metrics_out["bucket_offsets"] = found.offsets
        # crash-restart needs no special handling here: the manifest
        # link is the SINGLE commit step (lake.py _commit), so a dead
        # driver either committed (the replayed epoch no-ops on its
        # batch marker) or left nothing behind. A concurrent writer's
        # commit rebases automatically when compatible (disjoint COW
        # buckets / MOR appends — lake.py _commit_merge), so a raised
        # ConcurrentCommitError means a genuinely CONFLICTING writer
        # (same-bucket COW race, rebucket, schema divergence).
        return table.merge_cdc(
            folded,
            batch_id,
            op_column=cfg.op_column,
            seq_column=cfg.order_column,
            affected_buckets=sorted(found.offsets),
        )


def table_lineage_path(table_path: str) -> str:
    """Where the per-epoch lineage records of the table at
    ``table_path`` live."""
    return os.path.join(table_path, "_meta", "lineage.jsonl")


def read_lineage_file(path: str) -> list[dict]:
    """Parse a ``lineage.jsonl``, tolerating a torn TRAILING line: a
    reader racing the writer's append (``cli status`` against a live
    pipeline) sees at most one partial record, which is skipped. A
    malformed line anywhere else is real corruption and still raises."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        lines = [ln for ln in f if ln.strip()]
    records: list[dict] = []
    for idx, ln in enumerate(lines):
        try:
            records.append(json.loads(ln))
        except json.JSONDecodeError:
            if idx == len(lines) - 1:
                continue  # in-flight append, not yet durable
            raise
    return records


def fold_lineage(records: list[dict]) -> dict:
    """Single-pipeline lineage rollup shared by every consumer
    (``CdcPipeline.bucket_high_water``, ``cli ingest`` summaries,
    ``cli status``) so the semantics cannot drift:

    - ``quarantined`` sums the LAST record per epoch — DLQ directories
      are overwritten on retry, so summing every record double-counts
      crash-retried epochs;
    - ``bucket_high_water`` keys are ints (JSON object keys arrive as
      strings) and only applied epochs with recorded offsets contribute;
    - ``events``/``epochs_applied``/``max_token`` cover applied epochs.
    """
    out: dict = {
        "epochs_applied": 0,
        "events": 0,
        "quarantined": 0,
        "max_token": None,
        "bucket_high_water": {},
    }
    last_quarantined: dict = {}
    for r in records:
        last_quarantined[r.get("epoch_id")] = r.get("quarantined") or 0
        if not r.get("applied"):
            continue
        out["epochs_applied"] += 1
        out["events"] += r.get("n_events") or 0
        mt = r.get("max_token")
        if mt is not None and (out["max_token"] is None or mt > out["max_token"]):
            out["max_token"] = mt
        hw = out["bucket_high_water"]
        for b, off in (r.get("bucket_offsets") or {}).items():
            seq = (off or {}).get("max_seq")
            if seq is None:
                continue
            b = int(b)
            if b not in hw or seq > hw[b]:
                hw[b] = seq
    out["quarantined"] = sum(last_quarantined.values())
    return out


@dataclass
class TableTarget:
    """One destination table plus its fold config and epoch-tail options.

    The single-table :class:`CdcPipeline` holds one; the multi-table
    router (streaming/multitable.py) one per routed table, so both run
    the same construction-time checks. ``transform`` runs on this table's
    slice only (after routing and projection) — the per-table analog of
    ``CdcPipeline``'s envelope-level transform; both may be used
    together. ``auto_compact_delta_files`` and the ``auto_expire_*``
    knobs are documented on :class:`CdcPipeline`; each target applies
    them independently (each table accumulates its own manifests and MOR
    deltas at its own rate).
    """

    table: LakeTable
    cfg: EngineConfig
    transform: "Callable[[DataFrame], DataFrame] | None" = None
    auto_compact_delta_files: "int | None" = None
    auto_expire_keep: "int | None" = None
    auto_expire_slack: int = 16
    auto_expire_grace_seconds: float = 3600.0

    def validate(self, name: str) -> "TableTarget":
        """Raise ``ConfigError`` now for any option that would otherwise
        fail (or silently do nothing) mid-stream."""
        self.cfg.validate()
        if self.auto_compact_delta_files is not None:
            if self.auto_compact_delta_files < 1:
                raise ConfigError(
                    f"target {name!r}: auto_compact_delta_files must be >= 1"
                )
            if self.table.merge_mode != "mor":
                # a cow table never accumulates delta files, so the
                # option would be silently inert
                raise ConfigError(
                    f"target {name!r}: auto_compact_delta_files requires "
                    "a merge-on-read table (merge_mode='mor'); this table "
                    f"is merge_mode='{self.table.merge_mode}'"
                )
            self._require_method(
                name, "auto_compact_delta_files", "delta_file_counts"
            )
        if self.auto_expire_keep is not None:
            if self.auto_expire_keep < 1:
                raise ConfigError(
                    f"target {name!r}: auto_expire_keep must be >= 1"
                )
            if self.auto_expire_slack < 1:
                raise ConfigError(
                    f"target {name!r}: auto_expire_slack must be >= 1"
                )
            if self.auto_expire_grace_seconds < 0:
                raise ConfigError(
                    f"target {name!r}: auto_expire_grace_seconds must be >= 0"
                )
            self._require_method(
                name, "auto_expire_keep", "retained_manifest_count"
            )
        return self

    def _require_method(self, name: str, option: str, method: str) -> None:
        """The epoch tail calls ``method`` on the table for ``option``:
        auto-compaction probes ``delta_file_counts()`` and then calls
        ``compact(buckets=, purge_tombstones=)`` — a backend with the probe
        has the bucket-scoped compaction too; auto-expiry probes
        ``retained_manifest_count()``."""
        if not hasattr(self.table, method):
            raise ConfigError(
                f"target {name!r}: {option} needs the table method "
                f"{method}(), which {type(self.table).__name__} lacks"
            )

    @property
    def auto_expire(self) -> "tuple | None":
        """(keep, slack, grace) for the shared epoch tail, or None."""
        if self.auto_expire_keep is None:
            return None
        return (
            self.auto_expire_keep,
            self.auto_expire_slack,
            self.auto_expire_grace_seconds,
        )


class CdcPipeline:
    """Streaming CDC ingest of a change-log directory into a LakeTable."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: EngineConfig,
        table: LakeTable,
        log_path: str,
        checkpoint_dir: str,
        max_files_per_trigger: int | None = None,
        pipeline_id: str | None = None,
        transform=None,
        enforce_token_atomicity: bool = True,
        stream_schema=None,
        dead_letter_dir: str | None = None,
        dead_letter_rules=None,
        auto_compact_delta_files: int | None = None,
        auto_expire_keep: int | None = None,
        auto_expire_slack: int = 16,
        auto_expire_grace_seconds: float = 3600.0,
    ):
        """``transform``: optional DataFrame → DataFrame decode stage applied
        to each micro-batch before fold/merge — the slot for the SAP-style
        field-decode kernels (functions/decode.py ``decode_entity`` /
        per-field kernels, vectorized expressions or Arrow pandas UDFs; see
        north_star). It must preserve the envelope columns (key, op, seq,
        token, rocancel) and runs inside the same per-epoch job — no extra
        pass over the batch.

        ``enforce_token_atomicity``: a delta token is one source transaction
        — the ROCANCEL cancellation scope. The file source slices batches by
        *file count*, so a multi-file token can straddle two epochs, placing
        a cancel and its target in different folds (observed: silently wrong
        final state). With enforcement on, an epoch applies only tokens
        whose on-disk file set is fully delivered; files of still-partial
        tokens are deferred (by path — no data is spilled) and applied by a
        later epoch once the token completes. Deferred-state files live
        under the checkpoint dir keyed by epoch id, so retries replay
        deterministically. Tokens applied out of order remain correct via
        the event_seq version gate. Costs one driver-side listing of the
        batch's token directories per epoch. Non-file sources (no source
        log) skip enforcement; a file source on a NON-listable scheme
        (object store) raises rather than silently degrading — set
        enforce_token_atomicity=False only when the source batches whole
        delta tokens (e.g. one file per token).

        ``dead_letter_dir``: opt-in quarantine sink (streaming/quality.py).
        When set, each epoch splits off events violating the envelope
        contract (null key/seq/token/rocancel, op outside I/U/D, cancel
        events missing their target seq, plus any ``dead_letter_rules``)
        BEFORE the fold: the valid side's filter fuses into the epoch's
        single scan, the invalid side lands under
        ``<dir>/pipeline=<id>/epoch=<id>`` with machine-readable
        ``dlq_reasons``, and the count is recorded in lineage as
        ``quarantined``. The pipeline namespace keeps two pipelines
        sharing a dlq_dir from overwriting each other's epochs, and a
        fresh checkpoint (epoch 0) clears its own namespace so stale
        epoch dirs from a wiped prior run can't double-count; directory
        overwrite keeps replayed epochs idempotent. Without a DLQ, a
        null-keyed event would collapse unrelated rows into one MERGE
        group — corruption, not an error.

        ``auto_compact_delta_files``: merge-on-read tables accumulate one
        delta file set per epoch per touched bucket; without compaction a
        10^10-event replay's read amplification grows without bound until
        an operator runs maintenance. When set, any bucket reaching this
        many delta file entries is folded into its base right after the
        epoch's merge — tombstones RETAINED (``compact(purge_tombstones=
        False)``), so the event_seq version gate for late out-of-order
        events survives and the rewrite is observably equivalent at any
        epoch boundary (full tombstone purge stays a maintenance-time,
        low-watermark-barrier op). Only offending buckets are rewritten:
        under skew the hot bucket folds every N epochs while cold
        buckets' base files are never touched — write amplification is
        one base rewrite per N delta files per bucket. Crash-safe: a
        retried epoch's merge no-ops on its commit marker and the
        re-probe finds no over-threshold buckets. Compacted bucket ids
        and wall time ride the epoch's lineage record.

        ``auto_expire_keep``: opt-in snapshot expiry inside the stream —
        every applied epoch commits one manifest, and without expiry the
        metadata directory grows forever (every table OPEN globs all
        manifests, orphan walks are O(versions × entries)). When set, the
        epoch tail checks the on-disk manifest count (a restart-proof
        watermark — no in-memory cadence counter to lose) and runs
        ``expire_snapshots(keep_last=auto_expire_keep,
        grace_seconds=auto_expire_grace_seconds)`` once the count exceeds
        ``auto_expire_keep + auto_expire_slack``, so expiry cost
        amortizes over ``auto_expire_slack`` epochs. Time travel is
        bounded to the retained window — that's the retention tradeoff
        the operator opts into. The grace window (default 1 h) spares
        young unreferenced files so a CONCURRENT pipeline's in-flight
        commit spill is never swept (expiry itself tolerates
        concurrent-expiry deletion races); expired batch ids stay
        replay-safe via the manifest batch ledger, which survives expiry
        (only old manifests are dropped, the head carries the ledger).
        Expired-file count and wall time ride the epoch's lineage record
        as ``expired_files`` / ``expire_sec``."""
        cfg.validate()
        self.spark = spark
        self.cfg = cfg
        self.table = table
        self.log_path = log_path
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.transform = transform
        self.enforce_token_atomicity = enforce_token_atomicity
        self.dead_letter_dir = dead_letter_dir
        self.dead_letter_rules = dead_letter_rules
        # the config whose key_columns drive the DLQ null-key rules; the
        # multi-table router overrides this (its union log legitimately
        # carries nulls in other tables' key columns — it scopes per-table
        # null-key rules by routing value instead)
        self._dlq_cfg = cfg
        if table is None:
            # the multi-table router validates one TableTarget per table
            for option, value in (
                ("auto_compact_delta_files", auto_compact_delta_files),
                ("auto_expire_keep", auto_expire_keep),
            ):
                if value is not None:
                    raise ConfigError(
                        f"{option} applies to a single-table pipeline; for "
                        "MultiTableCdcPipeline set it per target via "
                        f"TableTarget({option}=...)"
                    )
            self.target = None
        else:
            self.target = TableTarget(
                table,
                cfg,
                auto_compact_delta_files=auto_compact_delta_files,
                auto_expire_keep=auto_expire_keep,
                auto_expire_slack=auto_expire_slack,
                auto_expire_grace_seconds=auto_expire_grace_seconds,
            ).validate(table.path)
        # alternative staged layout (e.g. OData delta-response pages);
        # None = the change-event envelope (sources/changelog.py)
        self.stream_schema = stream_schema
        # Default pipeline id is derived from the checkpoint path, NOT a
        # fresh uuid: batch ids must be stable across process restarts so a
        # crash-retried epoch on a resumed run hits its commit marker (a
        # random id would re-merge the epoch — correct via the event_seq
        # gate, but a needless bucket rewrite and a broken exactly-once
        # observability story).
        self.pipeline_id = pipeline_id or "cdc-" + hashlib.sha256(
            os.path.abspath(checkpoint_dir).encode()
        ).hexdigest()[:12]
        # table is None only for the multi-table router subclass
        # (streaming/multitable.py), whose summary records live under
        # the checkpoint dir
        self.lineage_path = (
            table_lineage_path(table.path)
            if table is not None
            else os.path.join(checkpoint_dir, "sap_spark_lineage.jsonl")
        )
        # parsed source-log entries, per log filename (see _source_log)
        self._source_log_cache: "dict[str, list[tuple]]" = {}
        self._deferred_dir = os.path.join(checkpoint_dir, "sap_spark_deferred")

    # -- lineage ---------------------------------------------------------

    def _record_lineage(
        self, epoch_id: int, fields: dict, path: "str | None" = None
    ) -> None:
        """Append one epoch record to this pipeline's lineage file (or to
        ``path``) — the one lineage writer; :func:`read_lineage_file` is
        the one reader."""
        path = path or self.lineage_path
        record = {
            "pipeline_id": self.pipeline_id,
            "epoch_id": epoch_id,
            **fields,
            "wall_time": time.time(),
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a") as f:
            f.write(json.dumps(record) + "\n")

    def _own_lineage(self, path: str) -> list[dict]:
        """This pipeline's records in a lineage file that prior runs and
        other pipelines also append to."""
        return [
            r
            for r in read_lineage_file(path)
            if r.get("pipeline_id") == self.pipeline_id
        ]

    @property
    def _dlq_namespace(self) -> str | None:
        """This pipeline's slice of the dead-letter sink. Namespacing by
        pipeline_id mirrors the merge commit markers: concurrent or
        successor pipelines sharing one dlq_dir never mix epochs."""
        if self.dead_letter_dir is None:
            return None
        return f"{self.dead_letter_dir.rstrip('/')}/pipeline={self.pipeline_id}"

    def dead_letters(self) -> DataFrame:
        """All quarantined events this pipeline has landed. Raises a
        clear ValueError if nothing was ever quarantined — check
        lineage's ``quarantined`` counts first."""
        from sap_spark.streaming.quality import read_dead_letters

        if self.dead_letter_dir is None:
            raise ValueError("pipeline has no dead_letter_dir configured")
        return read_dead_letters(self.spark, self._dlq_namespace)

    def lineage(self, all_pipelines: bool = False) -> list[dict]:
        """This pipeline's lineage records. The table-wide lineage.jsonl
        accumulates rows from prior runs and other pipelines; by default
        only this pipeline's records are returned so summaries (epochs
        applied, event counts) are per-run truthful."""
        if all_pipelines:
            return read_lineage_file(self.lineage_path)
        return self._own_lineage(self.lineage_path)

    def bucket_high_water(self) -> dict[int, int]:
        """Per-bucket high-water mark: the max applied event_seq each
        bucket has reached across this pipeline's applied epochs, from
        the per-partition lineage offsets. Lets an operator verify resume
        correctness per partition (a restarted run must only ever raise
        these) and spot key-skew (one bucket's n_rows — applied keys per
        epoch — dwarfing the rest). Every applied epoch records them from
        its post-cancellation winner set, so they are exact. JSON object
        keys are strings on disk; returned as ints."""
        return fold_lineage(self.lineage())["bucket_high_water"]

    # -- checkpoint artifacts ---------------------------------------------

    def _source_log(self) -> "list[tuple[int, str, str | None]]":
        """Every ``(batchId, path, local path)`` entry of the checkpoint's
        file-source log ``<ckpt>/sources/0`` — its one reader. The log is
        the pinned offset record the stream replays on retry
        (``batch_df.inputFiles()`` is not reliable for foreachBatch
        frames); empty for non-file sources.

        Spark writes each batch as ``<n>`` and every ``compactInterval``-th
        (default 10) as ``<n>.compact`` holding ALL entries so far; every
        entry keeps its original ``batchId`` either way. During the log's
        cleanup delay a plain ``<n>`` and a later ``<m>.compact`` coexist,
        so one entry can appear twice; files are returned in log order
        (``<n>`` before ``<n>.compact``) for callers to dedupe.

        Log files are immutable once visible (published by atomic rename;
        compaction adds a new file and later removes old ones), so parsed
        entries are cached per filename: each epoch parses only the files
        it has not seen instead of the WHOLE history, which would be
        quadratic over a long-running stream. Entries of vanished
        filenames are dropped."""
        src_dir = os.path.join(self.checkpoint_dir, "sources", "0")
        if not os.path.isdir(src_dir):
            return []
        present = sorted(
            (fn for fn in os.listdir(src_dir) if fn.split(".")[0].isdigit()),
            key=lambda fn: (int(fn.split(".")[0]), fn),
        )
        cache = self._source_log_cache
        for gone in set(cache) - set(present):
            del cache[gone]
        entries: "list[tuple[int, str, str | None]]" = []
        for fn in present:
            if fn not in cache:
                with open(os.path.join(src_dir, fn)) as f:
                    parsed = [json.loads(ln) for ln in f if ln.startswith("{")]
                cache[fn] = [
                    (e["batchId"], e["path"], self._local_path(e["path"]))
                    for e in parsed
                ]
            entries.extend(cache[fn])
        return entries

    def _batch_files(self, epoch_id: int) -> list[str] | None:
        """The exact file set of this epoch, in log order without
        duplicates; None when the log has none (non-file sources).
        Compaction epochs resolve like any other — without that they
        would silently skip both the AQE re-root and token-atomicity
        enforcement (a delta token split at epoch 9/19/… would be applied
        partially, losing ROCANCEL cancellation scope)."""
        files = dict.fromkeys(
            path for bid, path, _ in self._source_log() if bid == epoch_id
        )
        return list(files) or None

    def _seen_before(self, epoch_id: int) -> set[str]:
        """Local paths of every file the source delivered in epochs before
        this one (filtered per call, so a retried epoch sees the same
        state its first attempt saw)."""
        return {
            local
            for bid, _, local in self._source_log()
            if bid < epoch_id and local
        }

    @staticmethod
    def _local_path(uri: str) -> str | None:
        """Local filesystem path for a file: URI; None for other schemes
        (object stores can't be listed with os.listdir — enforcement then
        relies on the source's own batching). URI paths are percent-
        DECODED: Spark records source-log entries as Path.toUri strings,
        so a space in a directory name arrives as %20 and a partition
        value's escaped ':' as %253A — without unquote the returned
        string names a nonexistent file and every epoch's atomicity
        listing would fail. A schemeless entry is a plain path, never
        encoded — returned verbatim."""
        if "://" not in uri and ":" not in uri.split("/", 1)[0]:
            return uri
        from urllib.parse import unquote, urlparse

        parsed = urlparse(uri)
        if parsed.scheme in ("", "file"):
            return unquote(parsed.path)
        return None

    def _deferred_ids(self) -> list[int]:
        """Epoch ids holding a deferred-state record, ascending — the one
        scan of ``<ckpt>/sap_spark_deferred/``."""
        if not os.path.isdir(self._deferred_dir):
            return []
        return sorted(
            int(fn[:-5])
            for fn in os.listdir(self._deferred_dir)
            if fn.endswith(".json")
        )

    def _deferred_path(self, epoch_id: int) -> str:
        return os.path.join(self._deferred_dir, f"{epoch_id:012d}.json")

    def _latest_deferred(self, before: "int | None" = None) -> list[str]:
        """Files of the newest deferred-state record, or of the newest one
        before epoch ``before`` (ids ≥ it are ignored so a retried epoch
        re-reads the state its first attempt saw)."""
        ids = [i for i in self._deferred_ids() if before is None or i < before]
        if not ids:
            return []
        with open(self._deferred_path(ids[-1])) as f:
            return json.load(f)["files"]

    def _save_deferred(self, epoch_id: int, files: list[str]) -> None:
        os.makedirs(self._deferred_dir, exist_ok=True)
        target = self._deferred_path(epoch_id)
        tmp = target + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"epoch_id": epoch_id, "files": sorted(files)}, f)
        os.replace(tmp, target)
        # prune old state (retries only ever look backwards one step)
        for eid in self._deferred_ids():
            if eid < epoch_id - 2:
                os.remove(self._deferred_path(eid))

    def deferred_files(self) -> list[str]:
        """Files of still-incomplete delta tokens after the last epoch
        (operational visibility: non-empty after run_available_now means the
        log ends with a partially-delivered token — the next run applies it
        once its remaining files arrive)."""
        return self._latest_deferred()

    # -- delta-unit (token) atomicity -------------------------------------

    def _split_complete_tokens(
        self, files: list[str], epoch_id: int
    ) -> tuple[list[str], list[str]]:
        """(files of fully-delivered tokens, files to defer).

        Carried-over deferred files join this epoch's files before the
        completeness check, so a token finishing across k epochs is applied
        exactly once, whole, by the epoch that sees its last file. A token
        is complete when every file in its directory is either in hand or
        was already applied by an earlier epoch (an appended log can add
        files to a token dir whose earlier files were long applied —
        completeness must not wait on those)."""
        deferred_prev = set(self._latest_deferred(before=epoch_id))
        have = set(files) | deferred_prev
        applied_before = self._seen_before(epoch_id) - deferred_prev
        by_dir: dict[str, set[str]] = {}
        for f in have:
            by_dir.setdefault(os.path.dirname(f), set()).add(f)
        complete: list[str] = []
        deferred: list[str] = []
        log_root = self._local_path(self.log_path)
        root_key = os.path.normpath(log_root) if log_root else None
        for tok_dir, fs in by_dir.items():
            if root_key is not None and os.path.normpath(tok_dir) == root_key:
                # FLAT layout: files sit directly in the log root, so
                # there is no token directory to check completeness
                # against — and treating the ever-growing root as one
                # giant token would defer every epoch forever (zero
                # progress on an appended log) or force a static backlog
                # into a single unbounded final epoch. A flat log is one
                # delivery unit per file; multi-file delta tokens require
                # the delta_token=<tok>/ directory layout.
                complete.extend(sorted(fs))
                continue
            on_disk = {
                os.path.join(tok_dir, fn)
                for fn in os.listdir(tok_dir)
                if fn.endswith(".parquet")
            }
            if on_disk <= (fs | applied_before):
                complete.extend(sorted(fs))
            else:
                deferred.extend(sorted(fs))
        return complete, deferred

    # -- the per-epoch apply ----------------------------------------------

    def _prepare_batch(
        self, batch_df: DataFrame, epoch_id: int
    ) -> "tuple[DataFrame | None, int, int]":
        """Shared epoch front half: re-root the micro-batch onto a fresh
        batch scan of its exact files, enforce delta-token atomicity,
        apply the envelope-level ``transform``, and split off the DLQ.
        Returns ``(events, n_deferred, n_quarantined)``; ``events`` is
        None when every file of the epoch was deferred — nothing to
        apply, and the epoch's not-applied lineage record is already
        written. Used by both the single-table fold tail below and the
        multi-table router (streaming/multitable.py), so the two paths
        cannot drift on re-rooting or atomicity semantics."""
        if self.dead_letter_dir is not None and epoch_id == 0:
            # fresh checkpoint ⇒ fresh epoch numbering: clear this
            # pipeline's DLQ namespace so stale epoch dirs from a prior
            # wiped run (possibly sliced differently) can't linger and
            # double-count. Runs before the token-atomicity deferral
            # return so even a fully-deferred epoch 0 clears it; a
            # retried epoch 0 just re-clears.
            ns = self._local_path(self._dlq_namespace)
            if ns is not None:
                import shutil

                shutil.rmtree(ns, ignore_errors=True)
        files = self._batch_files(epoch_id)
        n_deferred = 0
        if files is not None:
            local = [self._local_path(f) for f in files]
            listable = None not in local
            if self.enforce_token_atomicity:
                if not listable:
                    # Non-listable scheme (object store): completeness of
                    # a delta token cannot be verified by listing, and
                    # silently skipping enforcement would reopen the
                    # split-token ROCANCEL hole this guard exists for.
                    # Fail loudly; the operator must either make the
                    # source batch whole tokens (one file per token, or
                    # maxFilesPerTrigger a multiple of files-per-token
                    # with aligned writes) and pass
                    # enforce_token_atomicity=False, or stage the log on
                    # a listable filesystem.
                    raise RuntimeError(
                        "token-atomicity enforcement requires a listable "
                        "(local) change-log path; got non-local files "
                        f"{[f for f, p in zip(files, local) if p is None][:3]}… "
                        "Pass enforce_token_atomicity=False ONLY if the "
                        "source delivers whole delta tokens per micro-batch."
                    )
                files, deferred = self._split_complete_tokens(local, epoch_id)
                self._save_deferred(epoch_id, deferred)
                n_deferred = len(deferred)
                if not files:
                    self._record_lineage(
                        epoch_id, {"applied": False, "deferred_files": n_deferred}
                    )
                    return None, n_deferred, 0
            elif listable:
                files = local
            # a non-local scheme without enforcement re-roots on the
            # original URIs
            batch_df = (
                self.spark.read.option("basePath", self.log_path)
                .schema(batch_df.schema)
                .parquet(*files)
            )
        if self.transform is not None:
            batch_df = self.transform(batch_df)
        n_quarantined = 0
        if self.dead_letter_dir is not None:
            from sap_spark.streaming.quality import (
                split_quarantine,
                write_dead_letters,
            )

            batch_df, quarantined = split_quarantine(
                batch_df, self._dlq_cfg, self.dead_letter_rules
            )
            n_quarantined = write_dead_letters(
                quarantined, self._dlq_namespace, epoch_id
            )
        return batch_df, n_deferred, n_quarantined

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Apply one epoch. The micro-batch is re-rooted onto a fresh batch
        scan of its exact files (from the checkpoint source log): a
        foreachBatch DataFrame carries streaming lineage, which disables AQE
        on every derived job; re-reading the pinned file set as a plain
        batch source is identical on retry while restoring the adaptive
        planner. Token atomicity (see __init__) filters the file set to
        fully-delivered delta tokens first. The file source hands out whole
        files but not necessarily in token order — the merge is event_seq-
        version-gated and delete-tombstoned, so out-of-order delta units
        still converge to the exact sequential-fold state."""
        batch_df, n_deferred, n_quarantined = self._prepare_batch(
            batch_df, epoch_id
        )
        if batch_df is None:
            return
        stats = self._apply_epoch_slice(
            batch_df,
            self.target,
            f"{self.pipeline_id}-epoch-{epoch_id}",
            f"lineage-{epoch_id}",
        )
        self._record_lineage(
            epoch_id,
            {
                **stats,
                "deferred_files": n_deferred,
                "quarantined": n_quarantined,
            },
        )

    def _apply_epoch_slice(
        self,
        events: DataFrame,
        target: TableTarget,
        batch_id: str,
        obs_name: str,
    ) -> dict:
        """Shared epoch tail: observe the lineage metrics, fold + MERGE
        one batch into one table (exactly-once on ``batch_id``), and
        optionally auto-compact over-threshold MOR buckets. Returns the
        lineage fields common to the single-table record and the
        multi-table per-table record — both paths call this, so the
        observation fields, compaction trigger and metrics shape cannot
        drift between them (streaming/multitable.py::_apply_table)."""
        table, cfg = target.table, target.cfg
        auto_compact_delta_files = target.auto_compact_delta_files
        auto_expire = target.auto_expire
        t0 = time.monotonic()
        obs = Observation(obs_name)
        observed = events.observe(
            obs,
            F.count(F.lit(1)).alias("n_events"),
            F.min(cfg.token_column).alias("min_token"),
            F.max(cfg.token_column).alias("max_token"),
            F.max(cfg.order_column).alias("max_seq"),
        )
        fold_metrics: dict = {}
        applied = ingest_batch(
            observed, table, cfg, batch_id, metrics_out=fold_metrics
        )
        elapsed = time.monotonic() - t0
        compacted: list[int] | None = None
        compact_sec = None
        if applied and auto_compact_delta_files:
            # driver-side manifest probe, no Spark job: buckets at/over
            # the delta-file threshold fold now (tombstones retained —
            # safe mid-stream); the rest wait for their own threshold
            over = [
                b
                for b, n in table.delta_file_counts().items()
                if n >= auto_compact_delta_files
            ]
            if over:
                t_c = time.monotonic()
                compacted = table.compact(
                    purge_tombstones=False, buckets=over
                )
                compact_sec = round(time.monotonic() - t_c, 4)
        expired_files = None
        expire_sec = None
        if applied and auto_expire is not None:
            keep, slack, grace = auto_expire
            # restart-proof trigger: the on-disk manifest count IS the
            # cadence state (one manifest per applied epoch since the
            # last expiry), so a resumed pipeline needs no counter
            if table.retained_manifest_count() > keep + slack:
                t_e = time.monotonic()
                expired_files = table.expire_snapshots(
                    keep_last=keep, grace_seconds=grace
                )
                expire_sec = round(time.monotonic() - t_e, 4)
        metrics = obs.get if applied else {}
        n = int(metrics.get("n_events") or 0)
        # per-partition (bucket) high-water offsets, computed inside the
        # epoch's bucket-discovery agg — promoted to a top-level lineage
        # field: {bucket: {max_seq, n_rows}} for every bucket this epoch
        # touched (north_rule "per-partition lineage offsets")
        bucket_offsets = fold_metrics.pop("bucket_offsets", None)
        return {
            "batch_id": batch_id,
            "applied": applied,
            "n_events": n,
            "min_token": metrics.get("min_token"),
            "max_token": metrics.get("max_token"),
            "max_seq": metrics.get("max_seq"),
            "elapsed_sec": round(elapsed, 4),
            "fold": fold_metrics or None,
            "bucket_offsets": bucket_offsets,
            "merge_phases": table.last_merge_metrics,
            "compacted_buckets": compacted,
            "compact_sec": compact_sec,
            "expired_files": expired_files,
            "expire_sec": expire_sec,
            "events_per_sec": round(n / elapsed, 1)
            if elapsed > 0 and n
            else None,
            "table_version": table.version,
        }

    # -- run --------------------------------------------------------------

    def run_available_now(self, timeout_sec: float | None = None) -> None:
        """Consume everything currently in the log, then stop (bounded
        replay; Trigger.AvailableNow still honors maxFilesPerTrigger by
        splitting the backlog into multiple epochs)."""
        stream = read_changelog_stream(
            self.spark, self.log_path, self.max_files_per_trigger,
            schema=self.stream_schema,
        )
        query = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(timeout_sec)
        if query.isActive:
            query.stop()
        if query.exception() is not None:
            raise query.exception()


# -- OData delta-queue ingest (wire half → CDC half) -------------------------

PAGE_SCHEMA_DDL = "payload string, delta_token string, event_seq_base long"


def odata_delta_pipeline(
    spark: SparkSession,
    cfg: EngineConfig,
    table: LakeTable,
    pages_path: str,
    checkpoint_dir: str,
    entity,
    key_columns: list[str],
    **kwargs,
) -> CdcPipeline:
    """CDC ingest of STAGED ODATA DELTA RESPONSES — the full "delta queue →
    lake" path: a stager follows ``@odata.deltaLink``/``@odata.nextLink``
    (sources/odata_feed.feed_control), writing one row per page
    (``payload, delta_token, event_seq_base``; schema `PAGE_SCHEMA_DDL`)
    under ``delta_token=<tok>/`` directories. This pipeline streams the
    staged pages and converts each micro-batch through
    ``delta_feed_to_changelog`` (upserts + @odata.removed deletes →
    change-event envelope) before the standard cancellation/LWW fold and
    exactly-once MERGE. Delta-token atomicity, checkpoint resume, lineage
    and epoch-retry no-ops all apply unchanged — a delta token here is one
    (or more) whole response pages, exactly SAP ODP's delta-unit contract.
    """
    from pyspark.sql import types as T

    from sap_spark.sources.odata_feed import delta_feed_to_changelog

    def transform(df: DataFrame) -> DataFrame:
        return delta_feed_to_changelog(
            df, entity, key_columns,
            token_col=cfg.token_column, seq_col=cfg.order_column,
        )

    return CdcPipeline(
        spark, cfg, table, pages_path,
        checkpoint_dir=checkpoint_dir,
        transform=transform,
        stream_schema=T._parse_datatype_string(PAGE_SCHEMA_DDL),
        **kwargs,
    )
