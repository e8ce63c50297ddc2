"""Multi-table CDC routing: ONE ordered change log → N lake tables.

SAP SLT replicates a whole *mass transfer* through a single delta queue:
one ordered stream carries change events for many target tables, each
event tagged with its table name, and a transaction (delta unit) may
span tables. The reference plugin reads exactly one entity set per
pipeline (``resourcePath``, SapODataConfig.java:66-69) — so replicating
N tables costs N full pipelines, N checkpoints, and N passes over the
queue. :class:`MultiTableCdcPipeline` keeps the single-queue model: one
``readStream`` + one checkpoint tracks the log once, and each micro-batch
fans out to the per-table fold/MERGE with **per-table exactly-once**.

Design (and why it survives 10^10 events):

- **One source scan per epoch.** The prepared batch (re-rooted, token
  atomicity enforced, DLQ split off — all shared with the single-table
  path via ``CdcPipeline._prepare_batch``) is persisted once; each
  table's slice is a filter over the cached batch, not a re-read of the
  epoch's files. N tables ⇒ N in-memory passes, 1 disk pass.
- **Per-table commit markers.** Table ``t``'s merge commits under batch
  id ``{pipeline}-epoch-{e}-t-{t}``. A driver crash after table A merged
  but before table B replays the epoch deterministically (same pinned
  file set): A's merge no-ops on its marker, B applies — exactly-once
  per table, no cross-table transaction needed because each table's
  final state depends only on its own slice of the ordered log.
- **Per-table schema.** Targets may have different keys, payload columns
  and merge modes; each slice is projected to its target's envelope +
  payload columns before the fold, so a column that only exists for
  table A can never leak into table B's evolution gate. The shared
  *envelope* (seq/token/op/rocancel columns) is the log's contract and
  is validated identical across targets at construction.
- **Routing column stays bounded.** Per-epoch route discovery is one
  tiny ``groupBy`` over ``coalesce(known table name, '<unrouted>')`` —
  its cardinality is ``len(targets)+1`` by construction, independent of
  how malformed the routing column's raw values are.
- **Unrouted events are an explicit policy** (``on_unrouted``):
  ``'error'`` (default — an unknown table in a CDC feed is upstream
  corruption), ``'ignore'`` (drop + count in lineage), or
  ``'quarantine'`` (fused into the epoch's existing dead-letter split as
  one more rule — no extra pass, machine-readable reason).

Lineage: each applied epoch appends one summary record (per-table
applied/event counts) to the pipeline's own lineage file under the
checkpoint dir, plus a full single-table-shaped record (with ``table``
tag) to each target table's ``_meta/lineage.jsonl`` — so table-local
tooling (``fold_lineage``, bucket high-water checks) keeps working
unchanged per table.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.config import ConfigError, EngineConfig
from sap_spark.streaming.pipeline import (
    CdcPipeline,
    TableTarget,
    fold_lineage,
    table_lineage_path,
)

_UNROUTED = "<unrouted>"

# envelope column → parquet physical type (the change-event log contract;
# sources/changelog.CHANGE_EVENT_SCHEMA with configurable names)
_ENVELOPE_TYPES = (
    ("token_column", T.StringType(), False),
    ("order_column", T.LongType(), False),
    ("op_column", T.StringType(), False),
    ("rocancel_column", T.BooleanType(), False),
    ("cancel_seq_column", T.LongType(), True),
)


class MultiTableCdcPipeline(CdcPipeline):
    """Route one change-log stream into many lake tables (see module doc)."""

    def __init__(
        self,
        spark: SparkSession,
        targets: "dict[str, TableTarget]",
        log_path: str,
        checkpoint_dir: str,
        table_column: str = "table_name",
        on_unrouted: str = "error",
        envelope_cfg: "EngineConfig | None" = None,
        **kwargs,
    ):
        if not targets:
            raise ConfigError("targets must be a non-empty dict")
        if _UNROUTED in targets:
            raise ConfigError(
                f"{_UNROUTED!r} is reserved and cannot name a target"
            )
        for name, tgt in targets.items():
            tgt.validate(name)
        if envelope_cfg is None:
            # the envelope (ordering/token/op columns) is a property of
            # the LOG, not of any one table; default to the first
            # target's view of it and verify the rest agree below
            envelope_cfg = next(iter(targets.values())).cfg
        for name, tgt in targets.items():
            for attr, _, _ in _ENVELOPE_TYPES:
                if getattr(tgt.cfg, attr) != getattr(envelope_cfg, attr):
                    raise ConfigError(
                        f"target {name!r}: {attr}="
                        f"{getattr(tgt.cfg, attr)!r} differs from the "
                        f"envelope's {getattr(envelope_cfg, attr)!r}; all "
                        "targets share one log and must agree on the "
                        "envelope columns"
                    )
            if table_column in (
                *tgt.cfg.key_columns,
                *tgt.cfg.payload_columns,
            ):
                raise ConfigError(
                    f"target {name!r} uses the routing column "
                    f"{table_column!r} as a key/payload column"
                )
        if on_unrouted not in ("error", "ignore", "quarantine"):
            raise ConfigError(
                "on_unrouted must be 'error', 'ignore' or 'quarantine'"
            )
        if on_unrouted == "quarantine":
            if kwargs.get("dead_letter_dir") is None:
                raise ConfigError(
                    "on_unrouted='quarantine' requires dead_letter_dir"
                )
            # fuse unrouted detection into the epoch's existing DLQ split
            # (streaming/quality.split_quarantine) — zero extra passes
            rule = (
                "unrouted_table",
                F.col(table_column).isNull()
                | ~F.col(table_column).isin(*targets.keys()),
            )
            kwargs["dead_letter_rules"] = [
                *(kwargs.get("dead_letter_rules") or []),
                rule,
            ]
        if kwargs.get("dead_letter_dir") is not None:
            # Per-table null-key rules, scoped by routing value. The
            # union log legitimately carries NULL in OTHER tables' key
            # columns, so the single-table null_key rules (driven by
            # cfg.key_columns — see violation_rules) would quarantine
            # every row of every other target; conversely a target whose
            # keys differ from the envelope cfg's would never have ITS
            # null keys caught. Scoping by eqNullSafe(routing, table)
            # keeps both correct: a NULL routing value makes the match
            # FALSE (plain == would yield NULL, and NULL & <null key:
            # TRUE> = NULL — a predicate that fails BOTH sides of the
            # quarantine split, vanishing the row), so the unrouted
            # rule/policy owns that row. _dlq_cfg is key-stripped below
            # so the unscoped rules never fire.
            route = F.col(table_column)
            kwargs["dead_letter_rules"] = [
                *(kwargs.get("dead_letter_rules") or []),
                *(
                    (
                        f"null_key:{k}@{tname}",
                        route.eqNullSafe(F.lit(tname)) & F.col(k).isNull(),
                    )
                    for tname, tgt in targets.items()
                    for k in tgt.cfg.key_columns
                ),
            ]
        if kwargs.get("stream_schema") is None:
            kwargs["stream_schema"] = self._derive_stream_schema(
                targets, envelope_cfg, table_column
            )
        super().__init__(
            spark,
            envelope_cfg,
            None,  # no single table: lineage goes under the checkpoint dir
            log_path,
            checkpoint_dir,
            **kwargs,
        )
        self.targets = dict(targets)
        self.table_column = table_column
        self.on_unrouted = on_unrouted
        # strip key columns from the DLQ config: null-key detection is
        # per-table (scoped rules above); envelope rules (seq/token/op/
        # rocancel) stay shared — they are the log's contract
        self._dlq_cfg = dataclasses.replace(envelope_cfg, key_columns=())

    @staticmethod
    def _derive_stream_schema(
        targets: "dict[str, TableTarget]",
        envelope_cfg: EngineConfig,
        table_column: str,
    ) -> T.StructType:
        """The log's physical schema: envelope + routing column + the
        union (by name) of every target's key/payload columns, typed
        from each target table's own schema. A name claimed by two
        targets at different types is a config error — the log is one
        parquet schema; the operator must rename or stage separately."""
        fields: "dict[str, T.StructField]" = {}
        for attr, dtype, nullable in _ENVELOPE_TYPES:
            name = getattr(envelope_cfg, attr)
            fields[name] = T.StructField(name, dtype, nullable)
        fields[table_column] = T.StructField(
            table_column, T.StringType(), False
        )
        for tname, tgt in targets.items():
            by_name = {f.name: f for f in tgt.table.schema.fields}
            for col in (*tgt.cfg.key_columns, *tgt.cfg.payload_columns):
                f = by_name.get(col)
                if f is None:
                    raise ConfigError(
                        f"target {tname!r}: column {col!r} from its "
                        "EngineConfig is not in the table schema"
                    )
                prior = fields.get(col)
                if prior is not None and prior.dataType != f.dataType:
                    raise ConfigError(
                        f"column {col!r} is typed {f.dataType.simpleString()}"
                        f" by target {tname!r} but "
                        f"{prior.dataType.simpleString()} by an earlier "
                        "target; one log has one schema — rename the column"
                    )
                # every routed column is nullable in the UNION schema:
                # rows of other tables carry null here
                fields[col] = T.StructField(col, f.dataType, True)
        return T.StructType(list(fields.values()))

    # -- per-table views ---------------------------------------------------

    def table_lineage(self, name: str) -> "list[dict]":
        """One target table's lineage records for this pipeline (the
        single-table-shaped records written next to the table)."""
        table = self.targets[name].table
        return self._own_lineage(table_lineage_path(table.path))

    def bucket_high_water(self, name: "str | None" = None) -> "dict[int, int]":
        """Per-bucket high-water marks for one target table (multi-table
        pipelines have no single-table default — pass the target name)."""
        if name is None:
            raise ValueError(
                "multi-table pipeline: pass the target table name, e.g. "
                f"bucket_high_water({next(iter(self.targets))!r})"
            )
        return fold_lineage(self.table_lineage(name))["bucket_high_water"]

    # -- the per-epoch apply ------------------------------------------------

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Fan one epoch out to every routed table (see module doc for
        the crash/retry argument). Route discovery and each table's
        slice run over the persisted prepared batch — one disk pass."""
        prepared, n_deferred, n_quarantined = self._prepare_batch(
            batch_df, epoch_id
        )
        if prepared is None:
            return
        route = F.col(self.table_column)
        known = sorted(self.targets)
        # cardinality-bounded discovery: anything not a known target name
        # (including null) folds into ONE bucket before the groupBy
        routed = F.when(route.isin(*known), route).otherwise(
            F.lit(_UNROUTED)
        )
        prepared = prepared.persist()
        try:
            counts = {
                r[0]: r[1]
                for r in prepared.groupBy(routed.alias("__t"))
                .count()
                .collect()
            }
            n_unrouted = int(counts.pop(_UNROUTED, 0))
            if n_unrouted and self.on_unrouted == "error":
                bad = [
                    r[0]
                    for r in prepared.where(~route.isin(*known) | route.isNull())
                    .select(route)
                    .distinct()
                    .limit(10)
                    .collect()
                ]
                raise RuntimeError(
                    f"epoch {epoch_id}: {n_unrouted} events route to "
                    f"unknown tables {bad} (targets: {known}). Pass "
                    "on_unrouted='ignore' or 'quarantine' to proceed."
                )
            summary: dict = {}
            for name in known:
                if not counts.get(name):
                    continue  # no rows for this table this epoch
                tgt = self.targets[name]
                summary[name] = self._apply_table(
                    prepared, name, tgt, epoch_id
                )
            self._record_lineage(
                epoch_id,
                {
                    "applied": any(t["applied"] for t in summary.values()),
                    "tables": summary,
                    "deferred_files": n_deferred,
                    "quarantined": n_quarantined,
                    "unrouted": n_unrouted,
                },
            )
        finally:
            prepared.unpersist()

    def _apply_table(
        self, prepared: DataFrame, name: str, tgt: TableTarget, epoch_id: int
    ) -> dict:
        """Fold + MERGE one table's slice of the epoch; returns the
        summary dict for the pipeline-level lineage record. Also appends
        the full single-table-shaped record to the table's own lineage."""
        cfg = tgt.cfg
        cols = [
            *cfg.key_columns,
            cfg.order_column,
            cfg.token_column,
            cfg.op_column,
            cfg.rocancel_column,
            cfg.cancel_seq_column,
            *cfg.payload_columns,
        ]
        missing = [c for c in cols if c not in prepared.columns]
        if missing:
            raise RuntimeError(
                f"target {name!r}: log batch lacks columns {missing} "
                f"(has {prepared.columns})"
            )
        slice_df = prepared.where(
            F.col(self.table_column) == name
        ).select(*cols)
        if tgt.transform is not None:
            slice_df = tgt.transform(slice_df)
        stats = self._apply_epoch_slice(
            slice_df,
            tgt,
            f"{self.pipeline_id}-epoch-{epoch_id}-t-{name}",
            f"lineage-{epoch_id}-{name}",
        )
        self._record_lineage(
            epoch_id,
            {"table": name, **stats},
            path=table_lineage_path(tgt.table.path),
        )
        return {
            k: stats[k]
            for k in ("applied", "n_events", "elapsed_sec", "table_version")
        }
