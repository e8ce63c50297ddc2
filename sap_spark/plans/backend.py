"""TableBackend — the seam between the CDC pipeline and the table format.

The engine's sink semantics (SURVEY.md §7 step 5: evolution gate →
idempotent MERGE → atomic commit marker) are a CONTRACT, not an
implementation. ``LakeTable`` (plans/lake.py) satisfies it over local
parquet + JSON manifests; a real Iceberg backend satisfies it with
``MERGE INTO`` / ``UpdateSchema`` / snapshot expiry against a catalog.
This module pins the contract down as a runtime-checkable protocol plus
the semantic laws every implementation must obey — the laws are executed
by ``tests/test_backend_contract.py``, parameterized over backend
factories, so a future Iceberg binding is done exactly when it passes
that suite unchanged.

The pipeline layer (streaming/pipeline.py) and CLI only call this
surface: ``bucket_column`` (the bucket id a batch's keys hash to, over
either discovery path) or ``affected_bucket_offsets``, then ``merge_cdc``
per epoch, ``version`` /
``merge_mode`` / ``num_buckets`` / ``last_merge_metrics`` for lineage and
sizing, ``compact`` / ``expire_snapshots`` for maintenance. Keeping the
surface this narrow is what makes the swap possible.

Contract laws (each has a test of the same name in the contract suite):

1.  **atomic visibility** — after ``merge_cdc`` returns, a fresh handle
    sees the merged state; a reader holding the old handle version sees
    the old state (snapshot isolation).
2.  **exactly-once** — replaying a committed ``batch_id`` returns False,
    changes nothing, and bumps no version.
3.  **version gate** — a change with ``event_seq`` ≤ the stored one for
    its key must not regress the row; deletes leave tombstones that
    shield against stale re-inserts.
4.  **evolution gate** — new nullable columns add, widenable types widen
    (int→long, float→double); anything else raises before data moves.
5.  **key stability** — every key lives in exactly one bucket; the key
    set of ``affected_bucket_offsets`` of a batch is the exact bucket set
    its keys hash to.
6.  **maintenance safety** — ``compact`` and ``expire_snapshots`` never
    change the user-visible row set.
7.  **change-feed fidelity** — ``changes_between(v1, v2)`` returns the
    net I/U/D feed whose application to the v1 image reproduces the v2
    image exactly (Iceberg changelog-read analog).
8.  **predicate-read identity** — ``read(where=p)`` returns exactly
    ``read().where(p)`` for every SQL predicate ``p``; any file/bucket
    skipping a backend performs from its statistics (LakeTable manifest
    bounds, Iceberg manifest min/max) is invisible in the result set.
9.  **rebucket layout evolution** — ``rebucket(M)`` changes only the
    layout: the read image, exactly-once memory, and version gate are
    untouched, and every subsequent write / point read /
    ``affected_bucket_offsets`` routes by the new count (Iceberg
    ``REPLACE PARTITION FIELD`` analog; the bucket count a table was
    created with must not be forever).

Concurrency is backend-native, outside the numbered laws: both
implementations give snapshot-isolated optimistic commits, and a loser
whose race is compatible retries without recomputation — ``LakeTable``
via the disjoint-bucket/MOR-append metadata rebase
(``plans/lake.py::_commit_merge``; tests/test_concurrent_commit.py),
Iceberg via the catalog's own CAS + commit-retry machinery. What the
pipeline may rely on across backends: a committed ``batch_id`` replays
as False from ANY handle, and a genuinely conflicting race surfaces as
an exception whose recovery is reload-and-retry.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T


@runtime_checkable
class TableBackend(Protocol):
    """Structural interface of a CDC-mergeable table (see module doc)."""

    # identity / layout ---------------------------------------------------
    path: str
    version: int
    # per-phase timings of the last ``merge_cdc`` for the epoch's lineage
    # record (``merge_phases``); None after a replayed batch or when the
    # backend does not time its merge phases
    last_merge_metrics: "dict | None"

    @property
    def schema(self) -> T.StructType: ...

    @property
    def key_columns(self) -> list[str]: ...

    @property
    def num_buckets(self) -> int: ...

    @property
    def merge_mode(self) -> str: ...

    def committed_batches(self) -> set[str]: ...

    # reads ---------------------------------------------------------------
    def read(self, where: "str | None" = None) -> DataFrame: ...

    def read_internal(self, buckets: list[int] | None = None) -> DataFrame: ...

    # writes --------------------------------------------------------------
    def overwrite(self, df: DataFrame, batch_id: str | None = None) -> None: ...

    def bucket_column(self, frame: DataFrame) -> Column: ...

    def affected_bucket_offsets(
        self,
        events: DataFrame,
        seq_column: "str | None" = None,
        count_column: "str | None" = None,
    ) -> "dict[int, dict]": ...

    def merge_cdc(
        self,
        changes: DataFrame,
        batch_id: str,
        op_column: str = "op",
        seq_column: str = "event_seq",
        affected_buckets: list[int] | None = None,
    ) -> bool: ...

    def evolve_schema(self, incoming: T.StructType) -> bool: ...

    def changes_between(
        self,
        from_version: int,
        to_version: int | None = None,
        incremental: "bool | None" = None,
    ) -> DataFrame: ...

    # maintenance ---------------------------------------------------------
    def compact(self) -> None: ...

    def rebucket(self, new_num_buckets: int) -> None: ...

    def expire_snapshots(
        self, keep_last: int = 1, grace_seconds: float = 0.0
    ) -> int: ...

    def history(self) -> list[dict]: ...
