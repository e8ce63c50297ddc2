"""CDC fold operators: ROCANCEL cancellation + last-writer-wins dedup.

Semantics (the sequential-fold contract, FIXTURES.md §2)
--------------------------------------------------------
A change-event batch is totally ordered by ``event_seq`` (globally unique
and monotone; ``delta_token`` only groups events into checkpoint units).
The final state of a key is the state after applying its events in order:

1. **ROCANCEL**: an event with ``rocancel=true`` is never applied itself;
   its only effect is to erase the effect of the event whose ``event_seq``
   equals its ``cancel_seq``. Cancelling a rocancel event is a no-op
   (nested cancellation is undefined in SLT and rejected here).
   Cancellation scope is the batch being folded — in the pipeline, one or
   more whole delta tokens, matching SLT where ROCANCEL records appear
   within the same delta unit / transaction as their target.
2. **Duplicate deliveries**: the same ``event_seq`` may be re-delivered in
   a later delta token with an identical payload; it must apply at most
   once (idempotence).
3. **Last-writer-wins**: because ops are upserts (I/U set the row, D
   deletes it), the folded state of a key depends only on its surviving
   event with the largest ``event_seq`` — so the sequential fold reduces
   to a per-key argmax, which distributes.

One fold implements it (``fold_changes``; the pipeline's
``streaming/pipeline.ingest_batch`` runs the same phases):

- phase A, ``lww_winners`` — ``groupBy(key).agg(max(event_seq))`` over a
  payload-pruned scan of the surviving events: O(distinct keys) rows of
  ~100 B, map-side partially aggregated, so a hot key is pre-combined
  before the shuffle;
- phase B, ``fetch_winner_payloads`` — a broadcast hash probe of the
  winner set materializes exactly the winning deliveries, payload
  included. Payload bytes never enter the winner aggregation; they cross
  the wire once, in the exchange the MERGE needs anyway.

Where the pipeline finds the winners depends on the batch's size
(``streaming/pipeline.discover``). A small batch collects ONE narrow
projection (keys, seq, op, rocancel, cancel-seq, bucket id) in a single
shuffle-free job, and :func:`discover_arrow` derives the cancel set,
survivors, per-key winners with event counts and per-bucket offsets from
it in Arrow on the driver, by the same rules as :func:`cancelled_seqs`,
:func:`drop_cancelled` and :func:`lww_winners`; the winners and cancel
set return to Spark as local relations. A large batch runs phase A as
the persisted Spark jobs above. Either way phase B is unchanged.

Skew is handled where it is detected, at runtime: the pipeline's winner
scan also counts surviving events per key, and a batch whose hottest key
reaches ``cfg.hot_key_threshold`` folds through ``lww_window`` instead —
a two-level salted row_number window over a payload-pruned projection
whose every exchange is explicitly bounded (a single hot key cannot be
split by AQE inside ``Window.partitionBy``; salting must be explicit).
Its winners fetch their payloads through the same broadcast probe.

Both pin the same tie-break: equal ``event_seq`` (a duplicate delivery)
resolves to the **largest** ``delta_token`` — the latest delivery wins,
deterministically.

The reference implements none of this (it is a pass-through batch source,
SURVEY.md §2.5); these operators are the engine's extension required by
BASELINE.json north_star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.config import EngineConfig


def _payload_cols(df: DataFrame, cfg: EngineConfig) -> list[str]:
    reserved = {
        *cfg.key_columns,
        cfg.order_column,
        cfg.token_column,
        cfg.op_column,
        cfg.rocancel_column,
        cfg.cancel_seq_column,
    }
    return [c for c in df.columns if c not in reserved]


def fold_output_columns(events: DataFrame, cfg: EngineConfig) -> list[str]:
    """The fold's output projection: keys + order + op + payload — the
    token/rocancel/cancel-seq envelope columns are checkpoint labels,
    not state, and must be stripped BEFORE the merge's schema-evolution
    gate sees the frame. One definition shared by :func:`fold_changes`
    and the pipeline's fold (streaming/pipeline.ingest_batch) so the
    kept-column set cannot drift between them."""
    return [
        *cfg.key_columns,
        cfg.order_column,
        cfg.op_column,
        *_payload_cols(events, cfg),
    ]


def cancelled_seqs(events: DataFrame, cfg: EngineConfig) -> DataFrame | None:
    """The distinct event_seq set cancelled in this batch (None when the
    batch carries no rocancel column). Column-pruned scan; callers running
    several passes over the same batch should persist it so the scan runs
    once (see streaming/pipeline.ingest_batch)."""
    rc, cs, seq = cfg.rocancel_column, cfg.cancel_seq_column, cfg.order_column
    if rc not in events.columns:
        return None
    return (
        events.where(F.col(rc) & F.col(cs).isNotNull())
        .select(F.col(cs).alias(seq))
        .distinct()
    )


def drop_cancelled(
    events: DataFrame, cfg: EngineConfig, cancelled: DataFrame | None = None
) -> DataFrame:
    """Remove rocancel events and the events they cancel.

    The cancelled-seq set is a few % of the batch and contains only longs,
    so it is explicitly broadcast: the anti-join becomes a map-side filter
    and the (payload-heavy) event stream is never shuffled here. A shuffled
    anti-join would move every content blob across the wire twice (once for
    the anti-join, once for the LWW shuffle). At 10^10-event scale the
    per-batch cancel set stays bounded by the delta-unit size; if a source
    ever produced oversized cancel sets, drop the hint and AQE falls back.
    """
    rc, seq = cfg.rocancel_column, cfg.order_column
    # op=NULL expresses no change (merge_cdc drops such rows before the
    # MERGE). It must be inert at the FOLD too: a null-op event that wins
    # LWW would otherwise erase the key's earlier valid state in a batch
    # replay, while the incremental path — the same events split across
    # epochs — would keep it, and the two north-star paths would diverge
    # on lax foreign logs. Filtering SURVIVORS here lets the latest
    # *valid* event win in either fold. The filter deliberately sits
    # AFTER the cancelled-seq derivation: a rocancel row is never applied
    # regardless of its own op, but its cancel_seq must still erase its
    # target even if a lax log left the rocancel row's op null. With a
    # DLQ configured the quarantine removes all of these pre-fold.
    def _live_ops(df: DataFrame) -> DataFrame:
        if cfg.op_column in df.columns:
            return df.where(F.col(cfg.op_column).isNotNull())
        return df

    if rc not in events.columns:
        return _live_ops(events)
    if cancelled is None:
        cancelled = cancelled_seqs(events, cfg)
    # coalesce: a NULL rocancel flag means NOT-a-cancel here, instead of
    # the row silently vanishing under 3VL (~NULL is NULL). The envelope
    # schema declares the column non-null and the streaming path
    # quarantines NULL flags before the fold when a DLQ is configured
    # (streaming/quality.violation_rules); this keeps the batch entry
    # points (fold_changes/replay) loss-free on lax foreign logs too.
    return _live_ops(events.where(~F.coalesce(F.col(rc), F.lit(False)))).join(
        F.broadcast(cancelled), on=seq, how="left_anti"
    )


def lww_window(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Last-writer-wins via a two-level salted row_number window — the
    fold a batch flips to when one key is hot (streaming/pipeline
    ingest_batch), and the contract query ``cdc_lww_window_salted``.

    Level 1 partitions by (key..., salt) where salt =
    pmod(xxhash64(event_seq), salt_partitions), producing ≤1 winner per
    (key, salt); level 2 re-deduplicates the ≤ salt_partitions winners per
    key exactly. Salting derives from the *order column*, never the key,
    so it cannot break LWW ordering: every salt bucket's winner is a true
    candidate and level 2 picks the global max. Duplicate deliveries
    (equal event_seq) tie-break on the **largest** delta_token — the same
    order the fetch fold pins.

    Payload pruning: both window levels run over a slim
    (key…, event_seq, delta_token) projection only — a content blob would
    otherwise cross TWO shuffle+sorts before losers are discarded.
    Winners (O(distinct keys) slim rows) then fetch their payloads through
    the same broadcast hash probe as the fetch fold, so the payload bytes
    move exactly once, map-side.
    """
    keys = list(cfg.key_columns)
    seq, tok = cfg.order_column, cfg.token_column
    has_tok = tok in events.columns
    order = [F.col(seq).desc()] + ([F.col(tok).desc()] if has_tok else [])

    def pick_one(df: DataFrame, partition_cols: list[str]) -> DataFrame:
        w = Window.partitionBy(*partition_cols).orderBy(*order)
        return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop(
            "__rn"
        )

    slim_cols = [*keys, seq] + ([tok] if has_tok else [])
    salt = F.pmod(F.xxhash64(F.col(seq)), F.lit(cfg.salt_partitions)).cast("int")
    slim = events.select(*slim_cols).withColumn("__salt", salt)
    slim = pick_one(slim, keys + ["__salt"]).drop("__salt")
    winners = pick_one(slim, keys)

    if set(events.columns) <= set(slim_cols):
        return winners  # no payload columns to fetch
    return _fetch_payloads(events, winners.select(*keys, seq), cfg)


def lww_winners(
    events: DataFrame,
    cfg: EngineConfig,
    cancelled: DataFrame | None = None,
    with_counts: bool = False,
) -> DataFrame:
    """Phase A of the fetch fold: (key…, event_seq) of each key's winning
    event. Payload columns are never referenced, so the scan prunes them.
    The result is O(distinct keys) of ~100 B rows — callers may persist it
    to reuse for bucket discovery + the fetch join.

    Deliberately ``max(event_seq)`` alone, NOT ``max(struct(seq, token))``:
    a long agg buffer compiles to whole-stage-codegen HashAggregate, while
    a struct-with-string buffer falls back to SortAggregate — measured as
    the dominant cost of the winner-selection scan. event_seq uniquely
    identifies the winning *event*; when SLT redelivers it under several
    tokens the payloads are identical and phase B's per-key guard picks
    the max-token delivery deterministically (the exact ordering the old
    struct-max encoded).

    ``with_counts`` adds a ``__n_events`` surviving-event count per key —
    one extra long in the same HashAggregate buffer, effectively free.
    This feeds the hot-key flip (streaming/pipeline.ingest_batch):
    max(__n_events) over the persisted winner set is the batch's hottest
    key, with no extra pass over the (payload-heavy) events."""
    keys = list(cfg.key_columns)
    seq = cfg.order_column
    survivors = drop_cancelled(events, cfg, cancelled=cancelled)
    aggs = [F.max(F.col(seq)).alias(seq)]
    if with_counts:
        aggs.append(F.count(F.lit(1)).alias("__n_events"))
    return survivors.groupBy(*keys).agg(*aggs)


def fetch_winner_payloads(
    events: DataFrame,
    winners: DataFrame,
    cfg: EngineConfig,
    cancelled: DataFrame | None = None,
) -> DataFrame:
    """Phase B of the fetch fold: materialize exactly the winning deliveries
    (payload included) via a map-side hash probe of the winner set.

    A duplicate delivery of the winning event *inside one token* (same key,
    seq, token twice — nothing upstream enforces within-token uniqueness)
    would fan the probe out to >1 row per key, violating merge_cdc's ≤1-row
    contract. The trailing per-key max_by collapses that (deterministic:
    the largest (seq, token) delivery wins; duplicate
    rows are identical so any pick is value-equal). Plan cost, verified
    via .explain: string-payload agg buffers are not hash-aggregable, so
    this compiles to a SortAggregate — but the sort is an UnsafeRow
    pointer/prefix sort keyed on the group columns (payload bytes are not
    copied), partial_max_by pre-collapses duplicates map-side, and the
    exchange hash-partitions by the keys the downstream MERGE joins on
    anyway — the common (no-duplicate) case ships the same bytes through
    the same number of shuffles as the unguarded plan."""
    survivors = drop_cancelled(events, cfg, cancelled=cancelled)
    return _fetch_payloads(survivors, winners, cfg)


def _fetch_payloads(
    survivors: DataFrame, winners: DataFrame, cfg: EngineConfig
) -> DataFrame:
    """The broadcast winner-to-payload probe + duplicate-delivery guard
    shared by the fetch fold (phase B) and the payload-pruned lww_window.
    `winners` is a (key..., event_seq) frame with <=1 row per key; output is
    one full row per key carrying the max-token delivery's payload (the
    max-seq one when the batch has no token column).

    The winner set is O(distinct keys per batch) of ~100 B rows, so it is
    always broadcast: the probe stays map-side and the payload side is
    never shuffled for the join."""
    keys = list(cfg.key_columns)
    seq, tok = cfg.order_column, cfg.token_column
    fetched = survivors.join(F.broadcast(winners), on=[*keys, seq], how="inner")
    rest = [c for c in fetched.columns if c not in keys and c != tok]
    carried = F.struct(*[F.col(c).alias(c) for c in rest])
    order = (
        F.struct(F.col(seq), F.col(tok))
        if tok in fetched.columns
        else F.col(seq)
    )
    return (
        fetched.groupBy(*keys)
        .agg(F.max_by(carried, order).alias("__w"))
        .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in rest])
    )


_ARROW_GROUPABLE = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.DateType, T.TimestampType,
    T.TimestampNTZType, T.BinaryType,
)


def arrow_groups_like_spark(dtype: T.DataType) -> bool:
    """Whether Arrow's hash grouping on a key of this Spark type finds the
    same groups as Spark's ``groupBy``: atomic types compare by value in
    both (floats once :func:`discover_arrow` applies Spark's
    normalization). Collated strings and nested types do not, so a batch
    keyed on one discovers on the Spark path."""
    if isinstance(dtype, T.StringType):
        return dtype.collation == "UTF8_BINARY"
    return isinstance(dtype, _ARROW_GROUPABLE)


def discover_arrow(batch, cfg: EngineConfig, bucket: str):
    """Driver-side discovery over a collected narrow projection of a batch
    (pyarrow Table of keys, seq, op, rocancel, cancel-seq and ``bucket``,
    the table's bucket id computed by the executors). Returns
    ``(cancelled, winners, offsets)``:

    - ``cancelled``: the distinct cancelled seqs, as :func:`cancelled_seqs`
      (None when the batch has no rocancel column);
    - ``winners``: (key…, seq, ``__n_events``, bucket) per key over the
      survivors of :func:`drop_cancelled`, as ``lww_winners(with_counts=
      True)``;
    - ``offsets``: ``{bucket: {max_seq, n_rows, max_key_events}}`` over
      the winners, as ``plans/lake.py::bucket_offsets``.

    Float keys are normalized first as Spark's grouping does (``-0.0`` →
    ``0.0``, every NaN → one NaN): Arrow groups by bit pattern, and two
    winners for one Spark key would break merge_cdc's ≤1-row contract.
    Spark's xxhash64 normalizes the same way, so the executors' bucket id
    agrees across a group."""
    import functools

    import pyarrow as pa
    import pyarrow.compute as pc

    keys, seq = list(cfg.key_columns), cfg.order_column
    rc, cs = cfg.rocancel_column, cfg.cancel_seq_column
    live, cancelled = [], None
    if rc in batch.column_names:
        flag = pc.fill_null(batch[rc], False)
        cancelled = pc.unique(
            batch[cs].filter(pc.and_(flag, pc.is_valid(batch[cs])))
        )
        # a NULL seq is never in the set (Spark's anti-join keeps it too)
        live += [
            pc.invert(flag),
            pc.invert(pc.is_in(batch[seq], value_set=cancelled)),
        ]
    if cfg.op_column in batch.column_names:
        live.append(pc.is_valid(batch[cfg.op_column]))
    survivors = batch.filter(functools.reduce(pc.and_, live)) if live else batch
    for k in keys:
        col = survivors[k]
        if pa.types.is_floating(col.type):
            zero = pa.scalar(0.0, col.type)
            nan = pa.scalar(float("nan"), col.type)
            col = pc.if_else(
                pc.is_nan(col), nan, pc.if_else(pc.equal(col, zero), zero, col)
            )
            survivors = survivors.set_column(
                survivors.schema.get_field_index(k), k, col
            )

    def agg(table, by, aggs, names):
        out = table.group_by(by).aggregate(aggs)
        return out.rename_columns([names.get(c, c) for c in out.column_names])

    winners = agg(
        survivors, [*keys, bucket], [(seq, "max"), ([], "count_all")],
        {f"{seq}_max": seq, "count_all": "__n_events"},
    )
    per_bucket = agg(
        winners, [bucket],
        [(seq, "max"), ([], "count_all"), ("__n_events", "max")],
        {f"{seq}_max": "max_seq", "count_all": "n_rows",
         "__n_events_max": "max_key_events"},
    )
    offsets = {
        r.pop(bucket): r
        for r in per_bucket.select(
            [bucket, "max_seq", "n_rows", "max_key_events"]
        ).to_pylist()
    }
    return cancelled, winners, offsets


def fold_changes(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Full batch fold: cancellation → LWW. One surviving row per key,
    projected to :func:`fold_output_columns`.

    Phase A (:func:`lww_winners`) selects each key's winning event_seq
    from a payload-pruned scan; phase B (:func:`fetch_winner_payloads`)
    fetches the winning deliveries through a broadcast probe. The
    cancelled-seq set is built once and shared by both phases — each
    would otherwise run its own broadcast-build scan of the batch (the
    streaming path additionally persists it)."""
    cancelled = cancelled_seqs(events, cfg)
    out = fetch_winner_payloads(
        events,
        lww_winners(events, cfg, cancelled=cancelled),
        cfg,
        cancelled=cancelled,
    )
    keep = fold_output_columns(events, cfg)
    return out.select(*[c for c in keep if c in out.columns])


def replay(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Fold an entire log into the final table state (no incremental sink).

    Keys whose last surviving op is D have no row. This is the one-shot
    batch replay; the incremental path is streaming/pipeline.py + the
    LakeTable MERGE sink.
    """
    folded = fold_changes(events, cfg)
    return folded.where(F.col(cfg.op_column) != "D").drop(cfg.op_column, cfg.order_column)
