"""LakeTable — a minimal Iceberg-style table format on parquet.

The sandbox image ships no Iceberg/Delta jars, so the engine implements the
Iceberg *semantics* it needs directly over parquet + a JSON manifest,
behind one class. Swapping in real Iceberg later means replacing this
module with `MERGE INTO` / `UpdateSchema` calls — the pipeline layer
(streaming/pipeline.py) only talks to this interface.

Semantics provided (and how they scale):

- **Snapshot isolation / atomic commit**: every commit writes new immutable
  data files plus a new manifest ``_meta/v{N}.json``, claimed with one
  atomic ``os.link`` — the link IS the commit point, so there is no
  window where a commit is half-visible and no torn state to repair:
  a writer either committed (its manifest exists) or it didn't. The
  claim doubles as optimistic concurrency control: exactly one writer
  can create v(N+1); a racer gets :class:`ConcurrentCommitError`,
  reloads, and retries (its batch markers make the retry a no-op when
  it had actually won). Readers resolve the highest manifest once and
  see one consistent snapshot; ``_meta/VERSION`` is an advisory cache
  of that number, never the source of truth. (On an object store the
  single-file claim is a catalog CAS — exactly Iceberg's model.)
- **Bucketed copy-on-write MERGE**: data files are hash-bucketed by the
  primary key: ``pmod(xxhash64(keys), num_buckets)`` at the table's key
  types, one rule (:func:`key_bucket`) for every placement. A CDC batch only
  reads + rewrites the buckets its keys touch; untouched buckets carry
  over by reference into the new manifest. This is Iceberg COW MERGE with
  bucket-partition pruning: per-batch cost is O(touched data), not
  O(table).
- **Idempotent commits (exactly-once)**: every commit records a
  ``batch_id`` marker in the manifest, in the same atomic pointer flip as
  the data. A replayed ``foreachBatch`` with an already-committed batch_id
  is a no-op — the marker write cannot be observed without its data and
  vice versa. The marker ledger keeps the most recent
  ``batch_ledger_retention`` ids (default 10^4; None = unbounded) — see
  DEFAULT_BATCH_LEDGER_RETENTION for why bounding it is sound.
- **Version-aware rows**: each row carries ``_event_seq`` (last applied
  change) and ``_deleted`` (tombstone). MERGE applies a change only when
  its event_seq exceeds the stored one, so late or duplicate deliveries
  of older events cannot regress a row, and deletes leave tombstones that
  shield against stale re-inserts. ``compact()`` drops tombstones.
- **Schema evolution without rewrite**: each manifest records a schema;
  data files remember which schema version they were written under. Reads
  conform old files to the current schema (null-fill added columns, cast
  widened columns) — ALTER is a metadata operation, as in Iceberg.
- **Time travel**: any retained manifest version is readable.
- **Concurrent writers**: the link claim admits one writer per version.
  A merge that loses it to a compatible commit (disjoint COW buckets,
  any MOR append) rebases onto the new head as a metadata-only retry
  (:meth:`LakeTable._commit_merge`); a conflicting race raises
  :class:`ConcurrentCommitError`. Rebucket and tombstone purge stay
  maintenance-window ops.

Only :class:`LakeTable` knows the manifest layout: reads use
``bucket_entries``, commits edit a copy from ``_edit`` (bucket lists via
``_replace_buckets``), and every parent-chain walk is ``_chain``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
import uuid
from collections.abc import Iterable, Iterator, Sequence
from typing import TYPE_CHECKING

from pyspark.errors import ArithmeticException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.config import EngineConfig
from sap_spark.plans.stats import (
    entry_may_match,
    key_membership_literals,
    parse_conjuncts,
    split_conjuncts_by_keys,
)
from sap_spark.schema.compat import (
    EvolutionPlan,
    SchemaCompatError,
    apply_cast_plan,
    plan_evolution,
)

if TYPE_CHECKING:
    import pyarrow as pa

# Internal columns (never exposed by read()).
SEQ_COL = "_event_seq"
DELETED_COL = "_deleted"
INTERNAL_COLS = (SEQ_COL, DELETED_COL)

# Exactly-once batch-ledger retention (count of most-recent batch ids kept
# in the manifest). Unbounded, the ledger grows one marker per epoch
# FOREVER and is deep-copied + serialized into every subsequent manifest —
# O(stream history) driver bytes per commit on a long-lived pipeline, the
# same unbounded-state trap Delta bounds with
# delta.setTransactionRetentionDuration. Every replay the ENGINE can
# produce sits within a handful of epochs of the head (foreachBatch
# retries, crash between table commit and checkpoint commit, a concurrent
# writer racing its own successor), so a 10^4-epoch window is ~3 orders of
# magnitude beyond any real replay depth; replaying a batch id that has
# aged OUT of the window re-applies instead of no-opping — a semantic
# no-op for the LWW merge (same winners, same final rows; it burns a
# version). It is NOT a no-op in two cases:
#   - an evicted `overwrite()` batch id re-applies a full overwrite: every
#     merge committed since the original overwrite is replaced by the
#     overwrite frame (pinned by tests/test_batch_ledger.py);
#   - a merge replayed after `compact(purge_tombstones=True)` can
#     resurrect deletes: the purged tombstones no longer shield the keys
#     from the replay's older upserts (the reason purge is a
#     low-watermark maintenance op, never run mid-stream).
# Set the `batch_ledger_retention` table property to None for the old
# unbounded behavior.
DEFAULT_BATCH_LEDGER_RETENTION = 10_000


def _check_ledger_retention(v) -> None:
    if v is not None and (not isinstance(v, int) or v < 1):
        raise ValueError(
            f"batch_ledger_retention must be a positive int or None "
            f"(unbounded), got {v!r}"
        )


def _check_layout_columns(known: set, name: str, cols) -> None:
    """Shared create/alter validation for a column-list layout knob."""
    unknown = [c for c in (cols or []) if c not in known]
    if unknown:
        raise ValueError(f"{name} not in schema: {unknown}")


def _check_max_records(v) -> None:
    if v is not None and v < 1:
        raise ValueError(f"max_records_per_file must be positive, got {v}")


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this table version first — reload and
    retry (see :meth:`LakeTable._commit`)."""


def bucket_expr(
    key_columns: "Sequence[str | F.Column]", num_buckets: int
) -> F.Column:
    """The hash half of key placement, at whatever types its columns
    carry. Tables place keys through :func:`key_bucket`, never this."""
    return F.pmod(F.xxhash64(*key_columns), F.lit(num_buckets)).cast("int")


def key_bucket(
    key_fields: "Sequence[T.StructField]",
    num_buckets: int,
    columns: "Sequence[F.Column] | None" = None,
) -> F.Column:
    """The bucket a key lives in: the one placement rule of both backends
    (backend law 5). Each key-valued column (by default the key fields'
    own columns; literals when a point lookup routes its pinned keys) is
    cast to its key type before :func:`bucket_expr` hashes it, because
    xxhash64 hashes an int and the equal long differently."""
    if columns is None:
        columns = [F.col(f.name) for f in key_fields]
    return bucket_expr(
        [c.cast(f.dataType) for f, c in zip(key_fields, columns)], num_buckets
    )


def refuse_key_widening(plan: EvolutionPlan, key_columns: "Sequence[str]") -> None:
    """A key column never changes type: :func:`key_bucket` hashes keys at
    the key types, so widening one would re-place every stored key —
    merges would prune to buckets its rows are not in and insert a second
    row, point lookups would miss. A narrower incoming key is cast up
    before hashing; a wider key domain needs a new table and a backfill."""
    widened = [c for c, _ in plan.widen_columns if c in key_columns]
    if widened:
        raise SchemaCompatError(
            f"cannot widen key column(s) {widened}: a key's bucket is "
            "hashed at the key type, so widening would move every stored "
            "key to another bucket. Create a new table with the wider key "
            "and backfill instead."
        )


def bucket_offsets(
    events: DataFrame,
    bucket: F.Column,
    seq_column: "str | None" = None,
    count_column: "str | None" = None,
) -> "dict[int, dict]":
    """Bucket ids touched by a batch, each with its high-water offset:
    ``{bucket: {"max_seq": <max seq_column>, "n_rows": <count>}}``.

    One column-pruned scan with a bucket-keyed partial agg producing
    ≤ num_buckets rows: only the key (and seq/count) columns are read, so
    parquet never materializes the payload, and map-side partial
    aggregation keeps the shuffle tiny. The groupBy carries ``max(seq)``
    and a row count in the same HashAggregate buffer, so one pass yields
    BOTH the exact merge-pruning set and the per-partition lineage
    offsets the pipeline records per epoch (north_rule). When
    ``seq_column`` is absent from the batch, ``max_seq`` is None.

    ``count_column`` (a per-key event count riding ``events``, e.g.
    lww_winners' ``__n_events``) adds ``max_key_events`` per bucket — one
    more long in the same agg buffer. The global max over buckets IS the
    batch's hottest-key count (max over keys distributes over any key
    partition), which lets the pipeline's hot-key probe ride this
    discovery pass instead of running its own job; per-bucket it doubles
    as skew observability in lineage. Shared by both table backends so
    the offsets have one shape. This is the large-batch discovery; a
    small batch derives the same offsets from one collect on the driver
    (``operators/dedup.discover_arrow``, same dict shape)."""
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    with_seq = seq_column is not None and seq_column in events.columns
    with_cnt = count_column is not None and count_column in events.columns
    cols = [bucket.alias("__bucket")]
    if with_seq:
        aggs.append(F.max(F.col(seq_column)).alias("__max_seq"))
        cols.append(F.col(seq_column))
    if with_cnt:
        aggs.append(F.max(F.col(count_column)).alias("__max_cnt"))
        cols.append(F.col(count_column))
    rows = events.select(*cols).groupBy("__bucket").agg(*aggs).collect()
    return {
        r["__bucket"]: {
            "max_seq": r["__max_seq"] if with_seq else None,
            "n_rows": r["__n_rows"],
            **({"max_key_events": r["__max_cnt"]} if with_cnt else {}),
        }
        for r in rows
    }


# The one line between driver and task work on small data. A batch whose
# collected projection Catalyst sizes below this many bytes discovers on
# the driver (streaming/pipeline.discover): one collect, folded in Arrow.
# The projection is the whole batch, payload included, for a
# merge-on-read table that can take driver-written rows
# (pipeline._whole_batch), and the narrow one (keys, seq, op, rocancel,
# cancel-seq, bucket id) otherwise. Larger batches, and any batch whose
# size is unknown, run the persisted Spark jobs. Driver memory on whole
# projections sets the line: Catalyst estimates compressed parquet bytes,
# and datagen's whole batches held ~18 Arrow bytes and grew the Python
# driver's RSS by ~56 bytes per estimated byte (tools/bench_discovery.py
# --mor, BENCH/MOR_DRIVER_r13.md: +236-241 MB at 64k events / 4.1 MB,
# +543-546 MB at 150k / 9.8 MB). The driver epoch was faster at every
# size to 150k events on local[2] and local[4] (0.29 vs 1.17-1.38 s at
# 5k, 0.82-0.86 vs 1.32-1.60 s at 64k), so 4 MiB keeps speed and bounds
# the growth near 250 MB. A narrow projection is about half a whole one
# per event (BENCH/DISCOVERY_r10.md), so the same line sends COW batches
# past ~120k events to the task path, which costs them ~0.3-0.4 s per
# epoch up to 1M events; no benchmark batch is in that range.
# LakeTable.compact folds dirty buckets on the driver below the same
# line, compared with the summed on-disk bytes of their files (what
# Catalyst estimates a parquet scan of them at). tools/bench_compact.py
# (BENCH/COMPACT_r14.md) found the same memory ratio there, ~58 bytes of
# Python RSS per on-disk byte (+61 MB at the 1.2 MB mor_serving table,
# +238-248 MB at 4.1 MB), and the driver fold faster to 8 MB on local[2]
# and local[4] (0.28-0.29 vs 0.76-0.94 s at 1.2 MB, 0.80 vs 1.27-1.39 s
# at 4.1 MB), so the line stays 4 MiB. No cluster was measured.
DRIVER_DISCOVERY_MAX_BYTES = 4 << 20

# Column types a merge-on-read batch may be written with from the driver
# (LakeTable.driver_write_schema): the atomic types a table column can
# have (schema/compat.py) whose pyarrow-written parquet reads back
# identically through ``spark.read.schema(...)`` (tests/test_driver_write.py
# round-trips each). Collated strings and nested types are out.
_DRIVER_WRITE_TYPES = (
    T.StringType, T.BooleanType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.DecimalType, T.TimestampType, T.BinaryType,
)
# Spark's parquet codec names -> pyarrow's; lzo and Spark's lz4 framings
# have no pyarrow writer here, so a session using them writes on tasks.
_PYARROW_CODECS = {
    "none": "none", "uncompressed": "none", "snappy": "snappy",
    "gzip": "gzip", "zstd": "zstd", "brotli": "brotli",
}


def _pyarrow_codec(spark: SparkSession) -> "str | None":
    """pyarrow's name for the session's parquet codec
    (``spark.sql.parquet.compression.codec``), or None when pyarrow has
    no writer for it."""
    import pyarrow as pa

    name = spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
    codec = _PYARROW_CODECS.get(name.lower())
    if codec is None or (codec != "none" and not pa.Codec.is_available(codec)):
        return None
    return codec


def arrow_schema(rows) -> T.StructType:
    """The Spark schema of a pyarrow Table (Spark's own Arrow mapping),
    without the ``__bucket`` column an Arrow batch may carry."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return T.StructType(
        [f for f in from_arrow_schema(rows.schema).fields if f.name != "__bucket"]
    )


def arrow_frame(spark: SparkSession, rows) -> DataFrame:
    """A pyarrow Table as a DataFrame (a local relation: no job), for a
    backend that merges an Arrow batch through Spark."""
    if "__bucket" in rows.column_names:
        rows = rows.drop_columns(["__bucket"])
    return spark.createDataFrame(rows, arrow_schema(rows))


# Iceberg-style write-target file size; buckets ≈ payload / this.
TARGET_FILE_BYTES = 256 << 20


def derive_num_buckets(
    expected_payload_bytes: int,
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_buckets: int = 8,
    max_buckets: int = 4096,
) -> int:
    """Bucket count from expected table payload (the cli.py sizing rule:
    ~payload / 256 MB, bounded). Bucket count is a property of the table
    LAYOUT, not the compute size — but it caps merge-write parallelism
    (one task per bucket-cluster), so pass ``min_buckets`` ≥ the planned
    executor-core count for small tables on big clusters."""
    if expected_payload_bytes <= 0:
        return min_buckets
    return min(max_buckets, max(min_buckets, math.ceil(expected_payload_bytes / target_file_bytes)))


def _data_glob(root: str, leaf: str) -> list[str]:
    return glob.glob(os.path.join(root, "data", "*", "__bucket=*", leaf))


def data_file_key(path: str) -> tuple:
    """Table-internal identity of a data file: its last four segments,
    ``data/<commit-uuid>/__bucket=N/<file>.parquet``. Manifest paths carry
    whatever spelling the table root had when they were written (relative
    to a long-gone CWD, absolute, symlinked, trailing slash), so neither
    exact-string nor realpath comparison is safe across processes; this
    suffix is unique within a table and independent of the spelling."""
    return tuple(os.path.normpath(path).split(os.sep)[-4:])


def scan_data_files(root: str) -> "dict[tuple, str]":
    """Every data file on disk under a table root, by :func:`data_file_key`."""
    return {data_file_key(f): f for f in _data_glob(root, "*.parquet")}


def sidecar_debris(root: str, data_files: "Iterable[str]") -> list[str]:
    """Bloom sidecars (``<file>.parquet.bloom``) and unpublished sidecar
    tmps (``.bloom.tmp-<pid>``, left by a killed metadata task) whose
    data file is gone. ``data_files`` is a scan of the data files on
    disk; a sidecar outside it is re-checked on disk, so a data file
    written after that scan keeps its sidecar."""
    live = set(data_files)
    out = []
    for s in _data_glob(root, "*.parquet.bloom*"):
        data = s[: s.rindex(".parquet.bloom") + len(".parquet")]
        if data not in live and not os.path.exists(data):
            out.append(s)
    return out


class LakeTable:
    """Handle to one table directory. See module docstring for semantics."""

    # phase timings of the last merge_cdc (None until one applies)
    last_merge_metrics: "dict | None" = None
    # where the last compact() folded its buckets: "driver" or "tasks"
    # (None until one rewrites, and after a compact with nothing to do)
    last_compact_on: "str | None" = None

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        version: int | None = None,
        as_of_timestamp: "float | str | None" = None,
    ):
        self.spark = spark
        self.path = path
        self._meta_dir = os.path.join(path, "_meta")
        if as_of_timestamp is not None:
            if version is not None:
                raise ValueError(
                    "pass version OR as_of_timestamp, not both — they both "
                    "pin the snapshot to read"
                )
            version = self.version_as_of(as_of_timestamp)
        self.version = self._current_version() if version is None else version
        self.manifest = self._load_manifest(self.version)

    # -- manifest / pointer machinery ------------------------------------

    def _version_file(self) -> str:
        return os.path.join(self._meta_dir, "VERSION")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._meta_dir, f"v{version:08d}.json")

    def _manifest_versions(self) -> "dict[str, int]":
        """Every numeric ``v*.json`` manifest on disk, path -> version: the
        one listing of the manifest directory. Stray non-numeric names an
        operator may leave there are skipped, never fatal."""
        out = {}
        for mf in glob.glob(os.path.join(self._meta_dir, "v*.json")):
            try:
                out[mf] = int(os.path.basename(mf)[1:-5])
            except ValueError:
                continue
        return out

    def _current_version(self) -> int:
        """Highest manifest on disk — the source of truth. The VERSION
        file is only an advisory cache (and the table-exists marker):
        trusting it would re-open the torn-commit window the
        link-is-the-commit design closes."""
        best = max(self._manifest_versions().values(), default=-1)
        if best >= 0:
            return best
        with open(self._version_file()) as f:  # pre-manifest corruption aid
            return int(f.read().strip())

    def retained_manifest_count(self) -> int:
        """Numeric ``v*.json`` manifests currently on disk — the
        metadata-growth watermark the streaming auto-expiry triggers on
        (one manifest per commit since the last expiry). O(versions)
        driver-side, same listing cost as :meth:`_current_version`."""
        return len(self._manifest_versions())

    def _load_manifest(self, version: int) -> dict:
        """Parse manifest ``version`` and heal its file entries in one pass
        (O(entries) string work, no filesystem probes; the next commit
        persists the healed entries).

        Re-root: every data file lives at the fixed layout
        ``<root>/data/<commit-uuid>/__bucket=N/<file>.parquet`` (one writer
        path, :meth:`_write_buckets`), but entries record the root spelling
        the writing handle used. A restored backup, a renamed directory or
        a relative-vs-absolute spelling would make reads, payload sums and
        expiry chase files at the OLD location; rewriting each path onto
        THIS handle's root makes tables relocatable (Iceberg's
        LocationProvider-relative-path property). Bloom sidecars follow:
        their path is ``<data file>.bloom``.

        Scrub: drop non-finite float bounds inherited from manifests
        written BEFORE the NaN-soundness fix (json.load accepts the bare
        NaN token); otherwise the next commit's ``allow_nan=False`` would
        reject the copied entry and brick writes to an upgraded table.
        The read side ignores such bounds anyway (stats.decode_bound)."""
        with open(self._manifest_path(version)) as f:
            manifest = json.load(f)
        root = self.path.rstrip("/")
        for _, entries in self.bucket_entries(manifest=manifest):
            for e in entries:
                p = e.get("path")
                if p:
                    tail = p.replace("\\", "/").rstrip("/").split("/")[-4:]
                    if len(tail) == 4 and tail[0] == "data":
                        e["path"] = root + "/" + "/".join(tail)
                stats = e.get("stats")
                if stats:
                    for c, b in list(stats.items()):
                        if any(isinstance(v, float) and not math.isfinite(v) for v in b):
                            del stats[c]
                    if not stats:
                        del e["stats"]
        return manifest

    def _chain(self, version: int) -> "Iterator[tuple[int, dict]]":
        """``(version, manifest)`` from ``version`` down the parent chain,
        newest first, each manifest parsed once — the one chain walk
        (history, version_as_of, expiry's keep walk). It ends at the
        oldest retained version, whose parent expiry trims to None."""
        v: "int | None" = version
        while v is not None:
            m = self._load_manifest(v)
            yield v, m
            v = m["parent"]

    def _stamp(self, version: int, manifest: dict) -> float:
        """Commit wall-clock of a manifest. Manifests written before the
        ``committed_at`` stamp existed fall back to the file's mtime."""
        ca = manifest.get("committed_at")
        if ca is not None:
            return float(ca)
        return os.path.getmtime(self._manifest_path(version))

    def bucket_entries(
        self,
        buckets: "Iterable | None" = None,
        manifest: "dict | None" = None,
    ) -> "Iterator[tuple[str, list[dict]]]":
        """``(bucket id, file entries)`` of a manifest (default: this
        handle's snapshot) — the one reader of the bucket map. Ids are the
        manifest's decimal strings. ``buckets`` restricts the walk to
        those ids, in that order; an id with no files yields ``[]``.
        Entries are the manifest's own dicts: read them, do not edit them
        (a commit edits a copy from :meth:`_edit`)."""
        bmap = (self.manifest if manifest is None else manifest).get("buckets") or {}
        if buckets is None:
            yield from bmap.items()
        else:
            for b in buckets:
                yield str(b), bmap.get(str(b), [])

    def _edit(self, batch_id: "str | None" = None) -> dict:
        """A deep copy of this handle's manifest: the base every commit
        edits, so a failed commit leaves ``self.manifest`` as it was.
        ``batch_id`` is appended to the copy's batch ledger, trimmed to
        the retention window oldest first (the list is chronological, and
        only ids near the head can ever replay through the engine)."""
        manifest = json.loads(json.dumps(self.manifest))
        if batch_id is not None:
            ledger = manifest["commits"]
            ledger.append(batch_id)
            keep = self.batch_ledger_retention
            if keep is not None and len(ledger) > keep:
                del ledger[:-keep]
        return manifest

    @staticmethod
    def _replace_buckets(
        manifest: dict,
        buckets: "dict[str, list[dict]]",
        drop: "Iterable | None" = (),
    ) -> dict:
        """Remove the bucket ids in ``drop`` from an edited manifest (None:
        every bucket, a full rewrite), then set ``buckets``' entry lists.
        Returns ``manifest``."""
        bmap = manifest["buckets"]
        for b in list(bmap) if drop is None else drop:
            bmap.pop(str(b), None)
        bmap.update(buckets)
        return manifest

    def _commit(self, manifest: dict, op: "dict | None" = None) -> None:
        """Write manifest v(N+1); its atomic ``os.link`` IS the commit.

        ``op``: optional self-describing commit annotation (e.g. a
        compaction's rewritten buckets), surfaced by :meth:`history`.
        Manifests are built by deep-copying the current one, so an
        inherited annotation from a prior commit is stripped unless this
        commit supplies its own.

        Single-step commit point: data files are fully written before
        this is called, so the instant the manifest link lands the
        commit is complete and durable — there is NO second step whose
        failure could leave a torn, half-committed state (the classic
        claim-then-flip design wedges a restarted writer on its own
        debris, and any automatic repair must guess claim ownership —
        a guess that deletes a slow LIVE writer's claim). The link
        doubles as optimistic concurrency (the Iceberg catalog-CAS
        analog): exactly one writer can create v(N+1); a racer gets
        :class:`ConcurrentCommitError`, reloads, and retries — its own
        batch markers (``committed_batches``) make the retry a no-op
        where it had actually committed. The VERSION file is refreshed
        after the fact purely as an advisory cache / exists-marker."""
        new_version = self.version + 1
        manifest["version"] = new_version
        manifest["parent"] = self.version
        # commit wall-clock: powers timestamp time travel (version_as_of /
        # as_of_timestamp — the Iceberg FOR TIMESTAMP AS OF analog). Purely
        # informational for every other code path; commit ORDER is the
        # version chain, never this clock
        manifest["committed_at"] = time.time()
        if op is None:
            manifest.pop("op", None)
        else:
            manifest["op"] = op
        mpath = self._manifest_path(new_version)
        tmp = mpath + f".tmp-{uuid.uuid4().hex}"
        try:
            with open(tmp, "w") as f:
                # allow_nan=False: a non-finite stat bound would serialize
                # as the bare non-RFC token `NaN`/`Infinity`, corrupting
                # the manifest for strict parsers — stats collection drops
                # such bounds (plans/stats._encode_bound), so any one
                # reaching here is a bug that must fail the commit loudly
                json.dump(manifest, f, allow_nan=False)
            try:
                os.link(tmp, mpath)  # the commit point: one writer wins
            except FileExistsError:
                raise ConcurrentCommitError(
                    f"version {new_version} of {self.path} already exists — "
                    "another writer committed from the same base version. "
                    "Reload the table and retry: committed batch ids replay "
                    "as no-ops."
                ) from None
        finally:
            # covers the dump raising too (the tmp must never accumulate)
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        vtmp = self._version_file() + f".tmp-{uuid.uuid4().hex}"
        with open(vtmp, "w") as f:
            f.write(str(new_version))
        os.replace(vtmp, self._version_file())  # advisory cache only
        self.version = new_version
        self.manifest = manifest

    # -- creation ---------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_columns: list[str] | tuple[str, ...],
        num_buckets: int | None = 32,
        if_not_exists: bool = False,
        expected_payload_bytes: int | None = None,
        merge_mode: str = "cow",
        stats_columns: "list[str] | None" = None,
        sort_columns: "list[str] | None" = None,
        max_records_per_file: "int | None" = None,
        bloom_columns: "list[str] | None" = None,
        batch_ledger_retention: "int | None" = DEFAULT_BATCH_LEDGER_RETENTION,
    ) -> "LakeTable":
        """Create an empty table (schema = user columns, no internal cols).

        ``num_buckets=None`` derives the count from
        ``expected_payload_bytes`` via :func:`derive_num_buckets`
        (~payload / 256 MB, bounded) — the sizing rule documented in
        cli.py instead of a hardcoded default.

        ``merge_mode``: ``'cow'`` (copy-on-write, default) rewrites touched
        buckets per merge — read-optimal, write cost O(touched table
        bytes). ``'mor'`` (merge-on-read, Iceberg v2-style) appends the
        folded batch as per-bucket DELTA files with no target read — write
        cost O(batch), reads fold latest-row-per-key across base+deltas
        until :meth:`compact` folds them back. At CDC scale (table ≫
        batch) COW's per-epoch rewrite is the write-amplification wall;
        MOR makes epoch cost independent of table size.

        ``stats_columns``: columns whose per-file [min, max] bounds are
        recorded in the manifest at every commit and used by
        ``read(where=...)`` to skip files (plans/stats.py). Default:
        key columns + the internal ``_event_seq``. Pass ``[]`` to
        disable collection; extra user columns (an event-time column is
        the 100 TB win) opt in here — bounds cost manifest bytes per
        file per column, so the default stays lean.

        ``sort_columns``: cluster rows by these columns WITHIN each
        bucket at every write (``sortWithinPartitions`` after the
        bucket repartition — a per-task sort, no extra shuffle). Bounds
        only skip files when values are clustered; sorting by the
        query-time column (event time, typically) makes the files a
        bucket write spills (several per bucket at 100 TB file-size
        targets) carry DISJOINT ranges, so time-window predicates skip
        all but the overlapping ones. The Iceberg write-order analog.
        For multi-column skipping, ``compact(zorder=[...])`` rewrites
        the long-lived base files in z-order instead.

        ``max_records_per_file``: bound every written file (Spark's
        ``maxRecordsPerFile``). One file per bucket per commit is wrong
        at scale — a 100 TB table with 4096 buckets would write 25 GB
        files; bounding splits each bucket's output into several
        scan-friendly files, which is also what gives the per-file
        bounds (``stats_columns`` + ``sort_columns``/zorder) something
        to skip.

        ``bloom_columns``: record a tiny per-file bloom (row-count-sized,
        plans/stats.py) at every commit so EQUALITY predicates skip
        files on high-cardinality NON-clustered columns — bounds can't
        help there (every file spans the domain), but ``WHERE commit =
        '<sha>'`` over the north-rule schema drops to the handful of
        bloom-hit files. Bitmaps live out-of-line in per-file
        ``.bloom`` sidecars (manifest carries only the column list and
        stays metadata-sized at any file count); the read path loads
        them lazily. Opt-in: collection reads the column's data at
        commit time (O(batch), like the write itself); string/int
        columns only.

        ``batch_ledger_retention``: most-recent batch ids kept in the
        manifest for exactly-once replay detection; ``None`` =
        unbounded (see DEFAULT_BATCH_LEDGER_RETENTION for why the
        default is bounded)."""
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}")
        _check_max_records(max_records_per_file)  # schema-free: always
        _check_ledger_retention(batch_ledger_retention)
        meta_dir = os.path.join(path, "_meta")
        if os.path.exists(os.path.join(meta_dir, "VERSION")):
            # short-circuit BEFORE the schema-dependent knob validation:
            # a pre-existing table's columns live in ITS stored (possibly
            # evolved) schema, not the caller's — validating a resume
            # call's knobs against the passed/default schema here would
            # spuriously reject columns the table actually has. The
            # knobs themselves are IGNORED on this path (the stored
            # properties win); change them with alter_properties.
            if if_not_exists:
                return cls(spark, path)
            raise FileExistsError(f"table already exists at {path}")
        known = {f.name for f in schema.fields} | set(INTERNAL_COLS)
        if stats_columns is None:
            stats_columns = [*key_columns, SEQ_COL]
        else:
            _check_layout_columns(known, "stats_columns", stats_columns)
        _check_layout_columns(known, "sort_columns", sort_columns)
        _check_layout_columns(known, "bloom_columns", bloom_columns)
        if num_buckets is None:
            num_buckets = derive_num_buckets(expected_payload_bytes or 0)
        if num_buckets < 1:
            # pmod(hash, 0) is NULL: every row would land in the Hive
            # default partition and the first merge would corrupt the
            # bucket map — the same guard rebucket() already applies
            raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
        if not key_columns:
            raise ValueError("key_columns must be non-empty")
        missing_keys = [k for k in key_columns if k not in known]
        if missing_keys:
            raise ValueError(
                f"key_columns {missing_keys} are not in the table schema"
            )
        os.makedirs(meta_dir, exist_ok=True)
        manifest = {
            "version": 0,
            "parent": None,
            "key_columns": list(key_columns),
            "num_buckets": num_buckets,
            # schemas[i] = schema version i; files reference their schema_id
            "schemas": [schema.json()],
            "current_schema_id": 0,
            # bucket id (str) -> list of {path, schema_id, kind?}
            # kind: "base" (absent = base) | "delta" (MOR append)
            "buckets": {},
            "commits": [],
            "properties": {
                "merge_mode": merge_mode,
                "stats_columns": list(stats_columns),
                "sort_columns": list(sort_columns or []),
                "max_records_per_file": max_records_per_file,
                "bloom_columns": list(bloom_columns or []),
                "batch_ledger_retention": batch_ledger_retention,
            },
        }
        manifest["committed_at"] = time.time()
        mpath = os.path.join(meta_dir, "v00000000.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        with open(os.path.join(meta_dir, "VERSION"), "w") as f:
            f.write("0")
        return cls(spark, path)

    # -- schema -----------------------------------------------------------

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(
            json.loads(self.manifest["schemas"][self.manifest["current_schema_id"]])
        )

    @property
    def key_columns(self) -> list[str]:
        return list(self.manifest["key_columns"])

    @property
    def _key_fields(self) -> list[T.StructField]:
        return [self.schema[k] for k in self.key_columns]

    @property
    def num_buckets(self) -> int:
        return int(self.manifest["num_buckets"])

    def committed_batches(self) -> set[str]:
        return set(self.manifest["commits"])

    @property
    def batch_ledger_retention(self) -> "int | None":
        """Most-recent batch ids kept for exactly-once replay detection
        (None = unbounded). See DEFAULT_BATCH_LEDGER_RETENTION."""
        props = self.manifest.get("properties", {})
        if "batch_ledger_retention" in props:
            return props["batch_ledger_retention"]
        return DEFAULT_BATCH_LEDGER_RETENTION

    @property
    def merge_mode(self) -> str:
        return self.manifest.get("properties", {}).get("merge_mode", "cow")

    @property
    def stats_columns(self) -> list[str]:
        """Columns whose per-file bounds are recorded at commit time.
        Tables created before the property existed default to the same
        keys+seq set — their OLD file entries simply carry no stats and
        are never pruned."""
        props = self.manifest.get("properties", {})
        cols = props.get("stats_columns")
        if cols is None:
            cols = [*self.key_columns, SEQ_COL]
        return cols

    @property
    def sort_columns(self) -> list[str]:
        """Write-order clustering columns (see :meth:`create`)."""
        return self.manifest.get("properties", {}).get("sort_columns") or []

    @property
    def max_records_per_file(self) -> "int | None":
        """Per-file row bound applied to every write (see :meth:`create`)."""
        return self.manifest.get("properties", {}).get("max_records_per_file")

    @property
    def bloom_columns(self) -> list[str]:
        """Columns carrying per-file blooms (see :meth:`create`)."""
        return self.manifest.get("properties", {}).get("bloom_columns") or []

    def _schema_with_internal(self, schema_id: int | None = None) -> T.StructType:
        sid = self.manifest["current_schema_id"] if schema_id is None else schema_id
        base = T.StructType.fromJson(json.loads(self.manifest["schemas"][sid]))
        return T.StructType(
            list(base.fields)
            + [
                T.StructField(SEQ_COL, T.LongType(), True),
                T.StructField(DELETED_COL, T.BooleanType(), True),
            ]
        )

    def evolve_schema(self, incoming: T.StructType) -> bool:
        """Schema-evolution gate (C4 rules, schema/compat.py): add nullable
        columns / widen along the lattice, as a metadata-only commit.
        Returns True if evolution happened. Incompatible drift raises."""
        incoming_user = T.StructType(
            [f for f in incoming.fields if f.name not in INTERNAL_COLS]
        )
        plan = plan_evolution(self.schema, incoming_user)
        # key types are fixed: key_bucket places keys at them
        refuse_key_widening(plan, self.key_columns)
        if plan.is_noop:
            return False
        new_schema = plan.apply_to(self.schema)
        manifest = self._edit()
        manifest["schemas"].append(new_schema.json())
        manifest["current_schema_id"] = len(manifest["schemas"]) - 1
        self._commit(manifest)
        return True

    _UNSET = object()

    def alter_properties(
        self,
        stats_columns=_UNSET,
        sort_columns=_UNSET,
        max_records_per_file=_UNSET,
        bloom_columns=_UNSET,
        batch_ledger_retention=_UNSET,
    ) -> bool:
        """Change the write-path layout knobs after creation, as a
        metadata-only commit. All five affect only FUTURE writes —
        existing files keep whatever stats/order/size they were written
        with, which is sound (a file without bounds for a column is
        simply never pruned on it) — so the table a user sized on day
        one can pick up an event-time stats column, a new clustering
        key, or a file-size bound without any rewrite; the next
        ``compact(only_dirty=False)`` re-lays everything out under the
        new settings. Returns True if anything changed.

        An omitted knob is left unchanged. Passing ``None`` to a
        column-list knob CLEARS it (≡ ``[]``) — unlike :meth:`create`,
        where ``stats_columns=None`` derives the keys+seq default; the
        default is a creation-time convenience, never re-derived here."""
        known = {f.name for f in self.schema.fields} | set(INTERNAL_COLS)
        props = dict(self.manifest.get("properties", {}))
        changed = {}
        for name, value in (
            ("stats_columns", stats_columns),
            ("sort_columns", sort_columns),
            ("bloom_columns", bloom_columns),
        ):
            if value is not self._UNSET:
                _check_layout_columns(known, name, value)
                changed[name] = list(value or [])
        if max_records_per_file is not self._UNSET:
            _check_max_records(max_records_per_file)
            changed["max_records_per_file"] = max_records_per_file
        changed = {k: v for k, v in changed.items() if props.get(k) != v}
        if batch_ledger_retention is not self._UNSET:
            _check_ledger_retention(batch_ledger_retention)
            # change-detect on the EFFECTIVE value (not props.get(),
            # which the generic filter above uses): on a legacy manifest
            # the key is ABSENT and reads as the bounded default, so an
            # explicit None (unbounded) is a real change even though
            # props.get() also returns None
            if (
                "batch_ledger_retention" not in props
                or self.batch_ledger_retention != batch_ledger_retention
            ):
                changed["batch_ledger_retention"] = batch_ledger_retention
        if not changed:
            return False
        manifest = self._edit()
        manifest.setdefault("properties", {}).update(changed)
        self._commit(manifest, op={"type": "alter", "properties": changed})
        return True

    # -- read path ----------------------------------------------------------

    def _read_files(self, files: list[dict], schema_id_target: int) -> DataFrame | None:
        """Read a file group, conforming every older schema to the target."""
        if not files:
            return None
        target = self._schema_with_internal(schema_id_target)
        by_sid: dict[int, list[str]] = {}
        for entry in files:
            by_sid.setdefault(entry["schema_id"], []).append(entry["path"])
        parts = []
        for sid, paths in by_sid.items():
            df = self.spark.read.schema(self._schema_with_internal(sid)).parquet(*paths)
            parts.append(apply_cast_plan(df, target))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _fold_latest(self, df: DataFrame) -> DataFrame:
        """MOR read fold: latest row per key across base + delta files.
        Base rows (null ``_event_seq``, from an initial load) rank lowest;
        any CDC delta supersedes them; among deltas the event_seq version
        gate decides — identical semantics to COW's gated apply, evaluated
        at read time."""
        keys = self.key_columns
        rest = [c for c in df.columns if c not in keys]
        order = F.coalesce(F.col(SEQ_COL), F.lit(-1))
        return (
            df.groupBy(*keys)
            .agg(F.max_by(F.struct(*rest), order).alias("__w"))
            .select(*keys, "__w.*")
        )

    def plan_files(
        self,
        buckets: "list[int] | None" = None,
        conjuncts: "list[tuple[str, str, object]] | None" = None,
    ) -> "tuple[list[dict], list[dict]]":
        """The file entries :meth:`read_internal` reads: ``(base files,
        files of delta-bearing buckets)``, the latter folded per key.

        ``conjuncts`` (from :func:`plans.stats.parse_conjuncts`) skips
        files by their manifest min/max bounds. Soundness split: key-
        column conjuncts prune every file (the fold groups by key, so a
        non-matching key's rows never decide a matching key's winner);
        non-key conjuncts prune only fold-free base-only buckets —
        dropping the file that holds a key's LATEST version because the
        predicate rejects it would resurrect an older version from a
        kept file. Callers must still apply the full predicate to the
        result; pruning is one-sided."""
        key_cj, other_cj = split_conjuncts_by_keys(
            conjuncts or [], self.key_columns
        )
        # the naive-timestamp-literal pruning shortcut is only sound
        # under a UTC session zone (the engine default — see
        # plans/stats._coerce); any other zone keeps timestamp files
        ts_utc = self.spark is not None and self.spark.conf.get(
            "spark.sql.session.timeZone", ""
        ) in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00")
        base_files: list[dict] = []
        delta_bucket_files: list[dict] = []
        for _, entries in self.bucket_entries(buckets):
            if any(e.get("kind") == "delta" for e in entries):
                if key_cj:
                    entries = [
                        e for e in entries if entry_may_match(e, key_cj, ts_utc)
                    ]
                delta_bucket_files.extend(entries)
            else:
                if key_cj or other_cj:
                    entries = [
                        e
                        for e in entries
                        if entry_may_match(e, key_cj + other_cj, ts_utc)
                    ]
                base_files.extend(entries)
        return base_files, delta_bucket_files

    def read_internal(
        self,
        buckets: list[int] | None = None,
        conjuncts: "list[tuple[str, str, object]] | None" = None,
    ) -> DataFrame:
        """Read rows incl. internal cols, optionally pruned to buckets and
        by ``conjuncts`` (see :meth:`plan_files`). On a table with delta
        files (merge-on-read), the result is folded to the latest row per
        key — **per bucket**: a key lives in exactly one hash bucket, so
        only delta-bearing buckets need the payload-carrying fold shuffle;
        base-only buckets union in verbatim. On a 100 TB table with one
        hot bucket's delta, a full read pays the fold over that bucket
        alone, not O(table)."""
        base_files, delta_bucket_files = self.plan_files(buckets, conjuncts)
        sid = self.manifest["current_schema_id"]
        parts: list[DataFrame] = []
        base_df = self._read_files(base_files, sid)
        if base_df is not None:
            parts.append(base_df)
        delta_df = self._read_files(delta_bucket_files, sid)
        if delta_df is not None:
            parts.append(self._fold_latest(delta_df))
        if not parts:
            return self.spark.createDataFrame([], self._schema_with_internal(sid))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # stable column order regardless of which part led the union
        return out.select(*[f.name for f in self._schema_with_internal(sid).fields])

    def read(self, where: "str | None" = None) -> DataFrame:
        """The user-facing table: live rows, user columns only.

        ``where``: optional SQL predicate. Semantically identical to
        ``read().where(where)`` — the full predicate is always applied —
        but its plain ``col <op> literal`` conjuncts additionally skip
        whole files via the manifest bounds (plans/stats.py), and a
        point lookup (every key column pinned by equality or IN) prunes
        to the hash buckets that can hold the keys. Key routing is
        constant-folded on the driver (:meth:`_buckets_for_key_combos`),
        so planning a lookup launches no Spark job. At 100 TB that is
        the difference between a metadata walk + one file and a full
        scan."""
        df = (
            self.read_internal()
            if where is None
            else self.read_internal(*self.where_pruning(where))
        )
        out = df.where(~F.coalesce(F.col(DELETED_COL), F.lit(False))).select(
            *[f.name for f in self.schema.fields]
        )
        if where is not None:
            # applied AFTER the user-column select so a predicate naming
            # an internal column fails exactly like read().where(p) does
            # (law 8 identity — also how the Iceberg binding behaves)
            out = out.where(F.expr(where))
        return out

    def where_pruning(self, where: str) -> "tuple[list[int] | None, list]":
        """``(buckets, conjuncts)`` a ``read(where=...)`` prunes by, for
        :meth:`plan_files`: the predicate's plain conjuncts, and the hash
        buckets a point lookup's pinned keys route to (None: all)."""
        conjuncts = parse_conjuncts(self.spark, where)
        # Spark resolves identifiers case-insensitively; fold each
        # conjunct's column onto the schema's canonical spelling so
        # `WHERE K = 7` still classifies as a key and finds bounds
        canon = {f.name.lower(): f.name for f in self.schema.fields}
        conjuncts = [(canon.get(c.lower(), c), op, v) for c, op, v in conjuncts]
        combos = key_membership_literals(conjuncts, self.key_columns)
        return (self._buckets_for_key_combos(combos) if combos else None), conjuncts

    def _buckets_for_key_combos(
        self, combos: "list[dict[str, object]]"
    ) -> "list[int] | None":
        """The bucket set a point-in-set lookup can live in (one bucket
        per fully-pinned key combination, deduplicated and sorted), or
        None when a literal does not fit the key schema (the post-filter
        then yields the honest result over all buckets).

        Each combination becomes one column: the write path's own
        :func:`key_bucket` over its literals, cast to the key types and
        projected on a one-row ``VALUES`` relation. Catalyst constant-
        folds every column, so ``collect()`` is answered by a
        LocalTableScan on the driver and planning launches no Spark job.
        xxhash64 stays Spark's: a Python reimplementation would be a
        silent-wrong-bucket bug factory.

        Literal gate, before any literal is built: the type check
        ``createDataFrame(verifySchema=True)`` applies over the key
        schema (wrong Python type, out-of-range integer, None on a
        non-nullable key), plus str-only on string keys. That verifier
        accepts any object for a string field, but Spark compares
        ``k = 1`` numerically, so ``'01'`` matches too and routing by
        ``cast(1 AS string)`` would miss it. A decimal too wide for its
        key type fails the cast itself."""
        key_fields = self._key_fields
        rows = [tuple(c[f.name] for f in key_fields) for c in combos]
        verify = T._make_type_verifier(T.StructType(key_fields))
        try:
            for row in rows:
                verify(row)
        except (TypeError, ValueError):
            return None
        if any(
            isinstance(f.dataType, T.StringType)
            and v is not None
            and not isinstance(v, str)
            for row in rows
            for f, v in zip(key_fields, row)
        ):
            return None
        cols = [
            key_bucket(key_fields, self.num_buckets, [F.lit(v) for v in row])
            .alias(f"b{i}")
            for i, row in enumerate(rows)
        ]
        try:
            got = self.spark.sql("VALUES (0)").select(*cols).collect()[0]
        except ArithmeticException:
            return None
        return sorted({int(b) for b in got}) or None

    # -- write paths ----------------------------------------------------------

    def _write_buckets(
        self,
        df: DataFrame,
        n_partitions: int | None = None,
        zorder: "list[str] | None" = None,
        phases: "dict | None" = None,
    ) -> dict[str, list[dict]]:
        """Write rows (must carry __bucket) as new immutable files; returns
        bucket -> file entries under the current schema id. ``phases``, if
        given, receives the metadata pass's timing and locality (see
        :meth:`_collect_commit_metadata`).

        Repartitions on __bucket first: without it every shuffle partition
        spills a file into every bucket directory (cores × buckets small
        files per commit, re-read by every later merge — quadratic file
        growth that inverts core scaling). One task per bucket-cluster
        writes ~1 file per bucket; at cluster scale bucket count, not core
        count, governs file count.
        """
        commit_dir = os.path.join(self.path, "data", uuid.uuid4().hex)
        target = self._schema_with_internal()
        ordered = apply_cast_plan(
            df.select(
                *[c for c in df.columns if c != "__bucket"], F.col("__bucket")
            ),
            T.StructType(
                list(target.fields) + [T.StructField("__bucket", T.IntegerType(), True)]
            ),
        )
        if zorder:
            # multi-dimensional clustering for a maintenance rewrite:
            # the quantile-learning pass runs over the pre-shuffle plan
            # (scan only); the z-value itself is a narrow projection
            # that rides the bucket repartition
            from sap_spark.plans.clustering import with_zorder

            ordered = with_zorder(ordered, zorder)
        ordered = ordered.repartition(n_partitions or self.num_buckets, "__bucket")
        if zorder:
            ordered = ordered.sortWithinPartitions("__bucket", "__zval").drop(
                "__zval"
            )
        else:
            sort_cols = [c for c in self.sort_columns if c in ordered.columns]
            if sort_cols:
                # write-order clustering: per-task sort (no shuffle) so
                # the files a bucket spills carry disjoint ranges the
                # manifest bounds can actually skip on
                ordered = ordered.sortWithinPartitions("__bucket", *sort_cols)
        writer = ordered.write
        if self.max_records_per_file:
            # several scan-friendly files per bucket instead of one
            # monolith; with clustering their ranges are disjoint, so
            # the per-file bounds become the skipping unit
            writer = writer.option("maxRecordsPerFile", int(self.max_records_per_file))
        writer.partitionBy("__bucket").mode("overwrite").parquet(commit_dir)
        bucket_paths: dict[str, list[str]] = {}
        for bdir in glob.glob(os.path.join(commit_dir, "__bucket=*")):
            b = bdir.rsplit("=", 1)[1]
            paths = sorted(glob.glob(os.path.join(bdir, "*.parquet")))
            if paths:
                bucket_paths[b] = paths
        return self._file_entries(bucket_paths, phases)

    def _file_entries(
        self, bucket_paths: "dict[str, list[str]]", phases: "dict | None"
    ) -> dict[str, list[dict]]:
        """bucket -> manifest entries of a commit's new files, under the
        current schema id, with their metadata
        (:meth:`_collect_commit_metadata`)."""
        sid = self.manifest["current_schema_id"]
        meta_by_path = self._collect_commit_metadata(
            [p for paths in bucket_paths.values() for p in paths],
            self.stats_columns,
            self.bloom_columns,
            phases,
        )
        return {
            b: [
                {"path": p, "schema_id": sid, **meta_by_path.get(p, {})}
                for p in paths
            ]
            for b, paths in bucket_paths.items()
        }

    def _write_arrow_buckets(
        self, rows, phases: "dict | None" = None
    ) -> dict[str, list[dict]]:
        """:meth:`_write_buckets` for rows already on the driver: a
        pyarrow Table of the current schema's columns plus ``__bucket``,
        written with pyarrow in the session's codec under the same layout
        (``data/<uuid>/__bucket=N/``) and the table's write layout —
        each bucket's rows sorted by ``sort_columns`` as
        ``sortWithinPartitions`` sorts them (ascending, nulls first, NaN
        after every number), sliced into files of at most
        ``max_records_per_file`` rows, else one file per bucket — then
        described by the same :meth:`_collect_commit_metadata`."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        codec = _pyarrow_codec(self.spark)
        if codec is None:  # the session codec changed since discovery
            raise ValueError(
                "session parquet codec has no pyarrow writer; retry the batch"
            )
        commit_dir = os.path.join(self.path, "data", uuid.uuid4().hex)
        names = [f.name for f in self._schema_with_internal().fields]
        order = [rows["__bucket"]]
        for c in (c for c in self.sort_columns if c in names):
            if pa.types.is_floating(rows[c].type):
                # Arrow places NaN with the nulls; Spark sorts it last
                order.append(pc.is_nan(rows[c]))
            order.append(rows[c])
        rows = rows.take(
            pc.sort_indices(
                pa.table({str(i): a for i, a in enumerate(order)}),
                sort_keys=[(str(i), "ascending") for i in range(len(order))],
                null_placement="at_start",
            )
        )
        cap = self.max_records_per_file or max(rows.num_rows, 1)
        bucket_paths: dict[str, list[str]] = {}
        start = 0
        runs = pc.value_counts(rows["__bucket"]).to_pylist()
        for run in sorted(runs, key=lambda r: r["values"]):  # = row order
            b, n = str(run["values"]), run["counts"]
            part = rows.slice(start, n).select(names)
            start += n
            bdir = os.path.join(commit_dir, f"__bucket={b}")
            os.makedirs(bdir)
            for i, lo in enumerate(range(0, n, cap)):
                piece = part.slice(lo, cap)
                path = os.path.join(bdir, f"part-{i:05d}-{uuid.uuid4().hex}.parquet")
                # the file Spark's writer would make, as reads see it:
                # page indexes, zstd at its level 3, and dictionaries
                # only where values repeat (it falls back to plain pages
                # elsewhere); pyarrow's defaults read measurably slower
                pq.write_table(
                    piece, path, compression=codec,
                    compression_level=3 if codec == "zstd" else None,
                    use_dictionary=[
                        c for c in names
                        if 2 * pc.count_distinct(piece[c]).as_py() <= piece.num_rows
                    ],
                    write_page_index=True,
                )
                bucket_paths.setdefault(b, []).append(path)
        return self._file_entries(bucket_paths, phases)

    # A commit collects its metadata in the one-job task pass
    # (stats.collect_metadata_distributed) when it has at least this many
    # files: a full-compaction commit at the 4096-bucket design point
    # would otherwise serialize 4096+ footer GETs through the driver.
    _DISTRIBUTED_STATS_MIN_FILES = 64
    # ...or when it must read column DATA (blooms, NaN counts) and its new
    # files total at least this many bytes. Measured by
    # tools/bench_metadata.py on repo-shaped files, two runs per slot
    # count (BENCH/METADATA_r6.md): the task pass costs ~0.3 s before it
    # reads a byte (job + Python-worker start-up), the driver walk
    # ~0.13 s/MB (one blake2b per bloomed value). The two cross at
    # 4.2-5.7 MB on local[2] and 3.1-3.4 MB on local[4]; 4 MiB sits
    # between, where neither slot count loses more than ~0.06 s per
    # commit to the wrong path. Larger clusters are unmeasured.
    _DISTRIBUTED_DATA_MIN_BYTES = 4 << 20

    def _collect_commit_metadata(
        self,
        paths: list[str],
        stats_cols: list[str],
        bloom_cols: list[str],
        phases: "dict | None" = None,
    ) -> "dict[str, dict]":
        """Manifest metadata for a commit's new files, collected where the
        commit's own size says it is cheaper: in one Spark task pass for
        commits past _DISTRIBUTED_STATS_MIN_FILES files, or past
        _DISTRIBUTED_DATA_MIN_BYTES when the metadata reads column data
        (blooms, NaN counts for float/double stats columns); on the
        driver otherwise, where a small commit's footers and column
        chunks cost less to read than one job costs to launch. Both
        paths run the same collect_entry_metadata, so the manifest
        entries and sidecars they produce are identical. ``phases``, if
        given, receives ``metadata_sec`` and ``metadata_on``
        (``"driver"`` or ``"tasks"``)."""
        from sap_spark.plans.stats import (
            collect_entry_metadata,
            collect_metadata_distributed,
        )

        t0 = time.monotonic()
        if not (stats_cols or bloom_cols):
            paths = []  # nothing to collect: no footer is opened
        float_types = (T.FloatType(), T.DoubleType())
        reads_data = bool(bloom_cols) or any(
            f.name in stats_cols and f.dataType in float_types
            for f in self._schema_with_internal().fields
        )
        meta = None
        if (
            paths
            and self.spark is not None
            and (
                len(paths) >= self._DISTRIBUTED_STATS_MIN_FILES
                or reads_data
                and (
                    sum(map(os.path.getsize, paths))
                    >= self._DISTRIBUTED_DATA_MIN_BYTES
                )
            )
        ):
            try:
                meta = collect_metadata_distributed(
                    self.spark, paths, stats_cols, bloom_cols
                )
            except Exception as exc:  # noqa: BLE001
                # A transient job failure must not permanently strip this
                # commit's (immutable) manifest of its stats — fall back
                # to the driver walk: worse locality once, never silent
                # metadata loss. Per-file failures inside either path
                # still degrade per-layer (collect_entry_metadata).
                import warnings

                warnings.warn(
                    f"distributed stats collection failed ({exc!r}); "
                    "falling back to the driver-side walk for this commit",
                    RuntimeWarning,
                    stacklevel=2,
                )
        on = "driver" if meta is None else "tasks"
        if meta is None:
            meta = {p: collect_entry_metadata(p, stats_cols, bloom_cols) for p in paths}
        if phases is not None:
            phases["metadata_sec"] = round(time.monotonic() - t0, 4)
            phases["metadata_on"] = on
        return meta

    def overwrite(self, df: DataFrame, batch_id: str | None = None) -> None:
        """Replace the whole table (initial load / backfill). Same
        exactly-once contract as :meth:`merge_cdc`: a replayed
        ``batch_id`` that already committed is a no-op (a restarted
        backfill driver re-running its epoch must not burn a version
        or re-spill the table). Runs the same schema-evolution gate as
        :meth:`merge_cdc` first — a backfill frame carrying a column the
        stored schema lacks evolves the schema rather than silently
        dropping the column's data (compat violations raise, as ever)."""
        if batch_id is not None and batch_id in self.committed_batches():
            return
        self.evolve_schema(
            T.StructType(
                [f for f in df.schema.fields if f.name not in INTERNAL_COLS]
            )
        )
        user_cols = [f.name for f in self.schema.fields]
        prepared = (
            apply_cast_plan(df, self.schema)
            .select(*user_cols)
            .withColumn(SEQ_COL, F.lit(None).cast("long"))
            .withColumn(DELETED_COL, F.lit(False))
        )
        prepared = prepared.withColumn("__bucket", self.bucket_column(prepared))
        new_buckets = self._write_buckets(prepared)
        self._commit(
            self._replace_buckets(self._edit(batch_id), new_buckets, drop=None)
        )

    def bucket_column(self, frame: DataFrame) -> F.Column:
        """Bucket id of ``frame``'s keys, hashed at the table's key types
        (:func:`key_bucket`) — the id every write, compaction, rebucket
        and discovery pass places a key by, so a narrower-typed feed
        lands where the table's rows live. Evaluated on executors, it is
        also the bucket column of the narrow projection a small batch's
        driver discovery collects (streaming/pipeline.discover)."""
        return key_bucket(self._key_fields, self.num_buckets)

    def affected_bucket_offsets(
        self,
        events: DataFrame,
        seq_column: "str | None" = None,
        count_column: "str | None" = None,
    ) -> "dict[int, dict]":
        """Bucket ids a batch touches, each with its high-water offset (see
        :func:`bucket_offsets`); the keys are the exact merge-pruning set.
        Keys hash at the table's key dtypes, exactly as merge_cdc does.
        The pipeline calls it only for a batch too large to discover on
        the driver (streaming/pipeline.discover); a small batch's offsets
        come from the same :meth:`bucket_column` evaluated in its collect."""
        return bucket_offsets(
            events, self.bucket_column(events), seq_column, count_column
        )

    def driver_write_schema(self, user: T.StructType) -> "T.StructType | None":
        """Whether a batch whose user columns are ``user`` may be folded
        and written from the driver: the schema this table will have once
        :meth:`merge_cdc` evolves it for that batch, or None when the
        batch takes the Spark fold and write — a COW table, a schema
        change the table refuses (the merge then raises as ever), a
        column type outside ``_DRIVER_WRITE_TYPES`` or a session parquet
        codec pyarrow cannot write (:func:`_pyarrow_codec`). The one
        place this is decided; ``merge_cdc`` trusts an Arrow batch that
        carries ``__bucket``."""
        if self.merge_mode != "mor" or _pyarrow_codec(self.spark) is None:
            return None
        try:
            plan = plan_evolution(self.schema, user)
            refuse_key_widening(plan, self.key_columns)
        except SchemaCompatError:
            return None
        schema = plan.apply_to(self.schema)
        for f in schema.fields:
            dt = f.dataType
            if not isinstance(dt, _DRIVER_WRITE_TYPES) or (
                isinstance(dt, T.StringType) and dt.collation != "UTF8_BINARY"
            ):
                return None
        return schema

    def merge_cdc(
        self,
        changes: "DataFrame | pa.Table",
        batch_id: str,
        op_column: str = "op",
        seq_column: str = "event_seq",
        affected_buckets: list[int] | None = None,
    ) -> bool:
        """Apply a folded CDC batch (≤1 row per key, from fold_changes, or
        a pyarrow Table folded on the driver by ``operators/dedup.
        fold_arrow``).

        Equivalent Iceberg statement::

            MERGE INTO t USING s ON <keys>
            WHEN MATCHED AND s.event_seq > t._event_seq AND s.op =  'D' THEN DELETE
            WHEN MATCHED AND s.event_seq > t._event_seq AND s.op <> 'D' THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *    -- D inserts a tombstone

        Returns False (no-op) if batch_id was already committed — the
        exactly-once guarantee under foreachBatch retries.

        Concurrency: losing the commit race to a COMPATIBLE concurrent
        writer (disjoint COW buckets; any MOR merge — appends compose)
        rebases automatically as a metadata-only retry, no Spark re-run
        (see :meth:`_commit_merge`). A conflicting race — same-bucket
        COW write, rebucket, diverged schema history — raises
        :class:`ConcurrentCommitError`; reload the table and call again
        to recompute against the new head.

        Scale: only buckets containing changed keys are read and rewritten;
        the join inside a bucket set is keys-vs-keys with AQE free to
        broadcast the (small) change side.

        Arrow input: a merge-on-read table writes a batch that carries
        each row's ``__bucket`` (the table's :meth:`bucket_column`, which
        the pipeline's discovery collect evaluates on executors) from the
        driver with pyarrow (:meth:`_merge_arrow`; no Spark job). The
        caller has asked :meth:`driver_write_schema` first; this method
        trusts it. Without ``__bucket``, and on a COW table, the batch
        becomes a local-relation DataFrame (:func:`arrow_frame`) and
        merges as any other. ``last_merge_metrics["write_on"]`` says
        which ran: ``driver`` or ``tasks``.
        """
        # Reset BEFORE the no-op check: a replayed epoch must not report the
        # previous merge's phase timings in its lineage record.
        self.last_merge_metrics = None
        if batch_id in self.committed_batches():
            return False
        # Per-phase wall timings for observability (north_rule metrics);
        # read by the pipeline into the lineage log after each merge.
        phases: dict[str, float | str] = {}
        self.last_merge_metrics = phases
        t_start = time.monotonic()

        arrow = None if isinstance(changes, DataFrame) else changes
        fields = (changes.schema if arrow is None else arrow_schema(arrow)).fields
        # Schema-evolution gate BEFORE the apply (SURVEY.md §7 step 5).
        change_user_schema = T.StructType(
            [
                f
                for f in fields
                if f.name not in (op_column, seq_column, *INTERNAL_COLS)
            ]
        )
        self.evolve_schema(change_user_schema)
        if arrow is not None:
            if self.merge_mode == "mor" and "__bucket" in arrow.column_names:
                return self._merge_arrow(
                    arrow, batch_id, op_column, seq_column, affected_buckets,
                    phases, t_start,
                )
            changes = arrow_frame(self.spark, arrow)
        phases["write_on"] = "tasks"

        keys = self.key_columns
        user_cols = [f.name for f in self.schema.fields]
        payload_cols = [c for c in user_cols if c not in keys]

        src = (
            apply_cast_plan(
                changes,
                T.StructType(
                    list(self.schema.fields)
                    + [
                        T.StructField(op_column, T.StringType(), True),
                        T.StructField(seq_column, T.LongType(), True),
                    ]
                ),
            )
            # a null op expresses no change — keeping the row would
            # materialize a live all-null row through the NOT-MATCHED leg
            # of the full-outer merge below (keys from the source side,
            # payload/seq all null, _deleted coalesced to false) and a
            # null-_deleted delta in MOR. Malformed envelopes belong in
            # the DLQ (streaming/quality.py); here they are inert.
            .where(F.col(op_column).isNotNull())
        )
        src = src.withColumn("__bucket", self.bucket_column(src))
        # Bucket pruning: which buckets does this batch touch? When the
        # caller already knows (a cheap key-pruned scan of the winner set,
        # see affected_bucket_offsets), the folded plan stays single-pass — no
        # persist of a payload-heavy intermediate, no cache/GC pressure.
        # Fallback: persist the folded batch and discover from it.
        persisted = None
        if affected_buckets is not None:
            affected = sorted(affected_buckets)
        else:
            src = persisted = src.persist()
            affected = sorted(
                r["__bucket"] for r in src.select("__bucket").distinct().collect()
            )
        phases["fold_and_discover_sec"] = round(time.monotonic() - t_start, 4)
        t_phase = time.monotonic()

        if self.merge_mode == "mor":
            # Merge-on-read: append the folded batch as per-bucket DELTA
            # files — the target is never read, so epoch write cost is
            # O(batch), not O(touched table bytes). The event_seq version
            # gate and delete tombstones move to read time (_fold_latest);
            # compact() folds deltas back into base files.
            s_seq_col = F.col(seq_column)
            is_del = F.col(op_column) == "D"
            delta_rows = src.select(
                *[F.col(k) for k in keys],
                *[
                    F.when(is_del, F.lit(None).cast(f.dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    for f in self.schema.fields
                    if f.name in payload_cols
                ],
                s_seq_col.alias(SEQ_COL),
                is_del.alias(DELETED_COL),
                F.col("__bucket"),
            )
            try:
                new_files = self._write_buckets(
                    delta_rows, n_partitions=max(len(affected), 1), phases=phases
                )
            finally:
                if persisted is not None:
                    persisted.unpersist()
            return self._commit_deltas(new_files, batch_id, affected, phases, t_phase)

        target = self.read_internal(buckets=affected)
        target = target.withColumn("__bucket", self.bucket_column(target))

        s = src.alias("s")
        tdf = target.alias("t")
        joined = tdf.join(s, on=keys, how="full_outer")

        s_seq = F.col(f"s.{seq_column}")
        t_seq = F.col(f"t.{SEQ_COL}")
        s_exists = F.col(f"s.{op_column}").isNotNull()
        t_exists = F.col(f"t.{DELETED_COL}").isNotNull()
        apply_change = s_exists & (~t_exists | t_seq.isNull() | (s_seq > t_seq))
        is_delete = F.col(f"s.{op_column}") == "D"

        merged_cols = [
            *[F.col(k) for k in keys],
            *[
                F.when(apply_change & is_delete, F.lit(None).cast(dt))
                .when(apply_change, F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c, dt in (
                    (f.name, f.dataType)
                    for f in self.schema.fields
                    if f.name in payload_cols
                )
            ],
            F.when(apply_change, s_seq).otherwise(t_seq).alias(SEQ_COL),
            F.when(apply_change, is_delete)
            .otherwise(F.coalesce(F.col(f"t.{DELETED_COL}"), F.lit(False)))
            .alias(DELETED_COL),
            F.coalesce(F.col(f"t.__bucket"), F.col(f"s.__bucket")).alias("__bucket"),
        ]
        merged = joined.select(*merged_cols)

        try:
            new_files = self._write_buckets(
                merged, n_partitions=max(len(affected), 1), phases=phases
            )
        finally:
            if persisted is not None:
                persisted.unpersist()
        stray = set(new_files) - {str(b) for b in affected}
        if stray:
            # a caller-supplied affected list that misses a bucket the
            # batch actually touched would have its existing rows absent
            # from the target read above, and the wholesale bucket-entry
            # replacement below would drop them — fail loudly instead of
            # losing data (the commit has NOT happened yet; files from
            # this write are unreferenced debris expire_snapshots sweeps)
            raise ValueError(
                f"merge_cdc: batch rows landed in buckets {sorted(stray)} "
                f"outside the caller-supplied affected_buckets "
                f"{sorted(affected)}; the affected list must cover every "
                "bucket the folded batch touches"
            )
        phases["merge_write_sec"] = round(
            time.monotonic() - t_phase - phases["metadata_sec"], 4
        )
        t_phase = time.monotonic()
        committed = self._commit_merge(
            new_files, batch_id, mor=False, replaced_buckets=affected
        )
        phases["commit_sec"] = round(time.monotonic() - t_phase, 4)
        phases["n_affected_buckets"] = len(affected)
        return committed

    def _merge_arrow(
        self,
        rows: "pa.Table",
        batch_id: str,
        op_column: str,
        seq_column: str,
        affected_buckets: "list[int] | None",
        phases: dict,
        t_start: float,
    ) -> bool:
        """The merge-on-read apply of a driver-folded batch: the same delta
        rows as the Spark branch of :meth:`merge_cdc` (null-op rows
        dropped, a delete's payload nulled, ``_event_seq``/``_deleted``
        from seq/op, columns cast to the current schema as
        ``apply_cast_plan`` casts them: a column the batch lacks is NULL),
        written by :meth:`_write_arrow_buckets`, then the same commit."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import from_arrow_type, to_arrow_type

        rows = rows.filter(pc.is_valid(rows[op_column]))
        is_del = pc.equal(rows[op_column], "D")
        keys = set(self.key_columns)
        cols = {}
        for f in self.schema.fields:
            if f.name not in rows.column_names:
                col = pa.nulls(rows.num_rows, to_arrow_type(f.dataType))
            elif from_arrow_type(rows[f.name].type) != f.dataType:
                col = rows[f.name].cast(to_arrow_type(f.dataType))
            else:
                col = rows[f.name]
            cols[f.name] = col if f.name in keys else pc.if_else(
                is_del, pa.nulls(rows.num_rows, col.type), col
            )
        delta = pa.table(
            {
                **cols,
                SEQ_COL: rows[seq_column],
                DELETED_COL: is_del,
                "__bucket": rows["__bucket"],
            }
        )
        affected = sorted(
            pc.unique(delta["__bucket"]).to_pylist()
            if affected_buckets is None
            else affected_buckets
        )
        phases["write_on"] = "driver"
        phases["fold_and_discover_sec"] = round(time.monotonic() - t_start, 4)
        t_phase = time.monotonic()
        new_files = self._write_arrow_buckets(delta, phases)
        return self._commit_deltas(new_files, batch_id, affected, phases, t_phase)

    def _commit_deltas(
        self,
        new_files: "dict[str, list[dict]]",
        batch_id: str,
        affected: "list[int]",
        phases: dict,
        t_phase: float,
    ) -> bool:
        """Commit a merge-on-read batch's delta files and time the write
        (since ``t_phase``, less the metadata pass) and the commit."""
        phases["merge_write_sec"] = round(
            time.monotonic() - t_phase - phases["metadata_sec"], 4
        )
        t_phase = time.monotonic()
        for entries in new_files.values():
            for e in entries:
                e["kind"] = "delta"
        committed = self._commit_merge(new_files, batch_id, mor=True)
        phases["commit_sec"] = round(time.monotonic() - t_phase, 4)
        phases["n_affected_buckets"] = len(affected)
        return committed

    _MAX_COMMIT_REBASES = 10  # runaway backstop, not a tuning knob

    def _commit_merge(
        self,
        new_files: "dict[str, list[dict]]",
        batch_id: str,
        mor: bool,
        replaced_buckets: "list[int] | None" = None,
    ) -> bool:
        """Commit a merge's bucket entries, with optimistic rebase-retry
        on concurrent commits (the Iceberg/Delta commit-conflict loop).

        The merge's data files were computed from the BASE content of
        only the buckets it touches, so losing the commit race needs no
        Spark re-run when the winner's commits are compatible — the
        already-written files re-commit onto the new head as a pure
        METADATA retry. Compatibility, checked structurally against the
        latest manifest (the op log is never read, so any future commit
        kind is handled by construction):

        - ``num_buckets`` unchanged (a concurrent rebucket re-routes
          every key: our files' placement would be wrong);
        - the schemas list only APPENDED (our entries' ``schema_id``
          must keep indexing the schema they were written under);
        - COW: every replaced bucket's entry list is IDENTICAL to the
          base's — our rewrite consumed that exact content, so anything
          else (a concurrent merge/compact of the same bucket) means
          the rewrite is stale and the conflict is real;
        - MOR: the base entries of every bucket we append to are a
          PREFIX of the latest's — concurrent merges appending deltas
          to the same bucket compose (the read-time fold orders by
          event_seq, and seqs are globally unique), while a rewrite
          (compact/overwrite) of the bucket breaks the prefix and
          raises. (Tombstone-purging compaction is a documented
          low-watermark-barrier, stop-ingest-first op — the guard here
          rejects the race anyway.)

        A conflicting race re-raises :class:`ConcurrentCommitError`
        (the caller's recompute-after-reload contract is unchanged). A
        racer that already committed THIS ``batch_id`` (a crash-retried
        epoch racing its own successor) adopts the winner's state and
        returns False — the exactly-once no-op; this merge's files are
        unreferenced debris expire_snapshots sweeps."""
        base_schemas = list(self.manifest.get("schemas", []))
        base_num_buckets = self.num_buckets
        touched = (
            [str(b) for b in replaced_buckets]
            if replaced_buckets is not None
            else sorted(new_files)
        )
        base_buckets = {b: list(es) for b, es in self.bucket_entries(touched)}
        for attempt in range(self._MAX_COMMIT_REBASES):
            manifest = self._edit(batch_id)
            if mor:
                self._replace_buckets(
                    manifest,
                    {
                        b: have + new_files[b]
                        for b, have in self.bucket_entries(new_files, manifest)
                    },
                )
            else:
                self._replace_buckets(manifest, new_files, drop=touched)
            try:
                self._commit(manifest)
                return True
            except ConcurrentCommitError:
                if attempt == self._MAX_COMMIT_REBASES - 1:
                    raise
                latest_version = self._current_version()
                latest = self._load_manifest(latest_version)
                if batch_id in latest["commits"]:
                    self.version, self.manifest = latest_version, latest
                    self.last_merge_metrics = None
                    return False
                if int(latest["num_buckets"]) != base_num_buckets:
                    raise ConcurrentCommitError(
                        f"batch {batch_id!r}: a concurrent rebucket changed "
                        f"num_buckets — the merge must be recomputed against "
                        "the new layout (reload and retry)"
                    ) from None
                if latest.get("schemas", [])[: len(base_schemas)] != base_schemas:
                    raise ConcurrentCommitError(
                        f"batch {batch_id!r}: the schema history diverged "
                        "under a concurrent commit — reload and retry"
                    ) from None
                for b, have in self.bucket_entries(touched, latest):
                    base = base_buckets[b]
                    ok = (
                        have[: len(base)] == base if mor else have == base
                    )
                    if not ok:
                        raise ConcurrentCommitError(
                            f"batch {batch_id!r}: bucket {b} changed under a "
                            "concurrent commit — the merge consumed stale "
                            "content for it; reload and retry (recompute)"
                        ) from None
                # compatible: rebase this merge's entries onto the new head
                self.version, self.manifest = latest_version, latest
        raise AssertionError("unreachable")  # pragma: no cover

    def changes_between(
        self,
        from_version: int | None = None,
        to_version: int | None = None,
        incremental: "bool | None" = None,
        *,
        from_timestamp: "float | str | object | None" = None,
        to_timestamp: "float | str | object | None" = None,
    ) -> DataFrame:
        """Row-level change feed between two snapshots (Iceberg
        changelog-read analog): the I/U/D events that transform the
        ``from_version`` image into ``to_version``'s (default: current).

        Bucket-pruned by construction: only buckets whose file sets
        differ between the two manifests are read — an epoch that
        touched one bucket yields a diff that scans one bucket twice,
        not the table. The diff itself is operators/snapshot.snapshot_diff
        (one full-outer join on the key, null-safe change detection).

        ``incremental`` (default auto): when every commit in the range
        only APPENDED merge-on-read delta files (the steady-state MOR
        ingest shape — no COW rewrite, no compaction), the feed is
        computed from the added files alone: only keys present in them
        can have changed, so the new side reads O(range's changes)
        bytes and the old image is row-pruned to those candidate keys
        with a semi join before any payload crosses a shuffle. On a
        10^10-row table where an epoch touches a few keys per bucket,
        that is the difference between scanning two bucket images and
        scanning the epoch. Results are identical to the snapshot diff
        (property-tested); ``incremental=False`` forces the snapshot
        path, ``True`` raises if the range is not pure-append.

        Either end of the range may be given as a timestamp instead of a
        version (``from_timestamp`` / ``to_timestamp``, resolved through
        :meth:`version_as_of` — "changes since yesterday's 02:00 run"
        without bookkeeping version numbers)."""
        from sap_spark.operators.snapshot import snapshot_diff

        if from_timestamp is not None:
            if from_version is not None:
                raise ValueError("pass from_version OR from_timestamp, not both")
            from_version = self.version_as_of(from_timestamp)
        if from_version is None:
            raise TypeError("changes_between needs from_version or from_timestamp")
        if to_timestamp is not None:
            if to_version is not None:
                raise ValueError("pass to_version OR to_timestamp, not both")
            to_version = self.version_as_of(to_timestamp)
        to_version = self.version if to_version is None else to_version
        old_t = LakeTable(self.spark, self.path, version=from_version)
        new_t = LakeTable(self.spark, self.path, version=to_version)
        old_files = dict(old_t.bucket_entries())
        new_files = dict(new_t.bucket_entries())
        changed = sorted(
            int(b)
            for b in old_files.keys() | new_files.keys()
            if old_files.get(b) != new_files.get(b)
        )

        def null_pad(df: DataFrame, fields) -> DataFrame:
            """Conform to a field list, padding absent columns with
            typed nulls (a range-spanning evolution only ADDS nullable
            columns, gated by schema/compat.py)."""
            return df.select(
                *[
                    F.col(f.name)
                    if f.name in df.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in fields
                ]
            )

        def conform_live(df: DataFrame) -> DataFrame:
            df = df.where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
            return null_pad(df, new_t.schema.fields)

        added = self._pure_delta_appends(old_files, new_files, changed)
        if incremental is True and added is None:
            raise ValueError(
                f"versions {from_version}..{to_version} are not pure delta "
                "appends (a COW rewrite or compaction is in the range); "
                "use incremental=None/False"
            )
        if added and incremental is not False:
            sid = new_t.manifest["current_schema_id"]
            adf = new_t._read_files(added, sid)
            # old image of the changed buckets, row-pruned to the keys
            # the range actually touched BEFORE payloads move (AQE
            # broadcasts the key side when small)
            keys = self.key_columns
            old_img = old_t.read_internal(buckets=changed).join(
                adf.select(*keys), on=keys, how="left_semi"
            )
            # lift the old image to the NEW internal schema (an
            # evolution in the range adds nullable columns the old
            # files lack) so the fold sees both sides column-complete
            old_up = null_pad(old_img, new_t._schema_with_internal(sid).fields)
            # v2 image for those keys: the same per-key version-gated
            # fold a full read performs, over old row ∪ added rows
            new_img = new_t._fold_latest(old_up.unionByName(adf))
            return snapshot_diff(
                conform_live(old_up), conform_live(new_img), keys
            )

        return snapshot_diff(
            conform_live(old_t.read_internal(buckets=changed)),
            conform_live(new_t.read_internal(buckets=changed)),
            self.key_columns,
        )

    @staticmethod
    def _pure_delta_appends(
        old_files: "dict[str, list[dict]]",
        new_files: "dict[str, list[dict]]",
        changed: list[int],
    ) -> "list[dict] | None":
        """The file entries appended between two bucket maps, or None when
        any changed bucket was REWRITTEN (COW merge, compaction,
        overwrite) rather than purely extended with delta files — the
        shapes where added-files-only change tracking would be wrong.
        An idle range (no file changes at all, e.g. schema-only commits)
        returns ``[]`` — trivially pure-append, empty feed."""
        added: list[dict] = []
        for b in changed:
            o = old_files.get(str(b), [])
            n = new_files.get(str(b), [])
            if n[: len(o)] != o:
                return None  # rewrite: old entries vanished/reordered
            tail = n[len(o) :]
            if any(e.get("kind") != "delta" for e in tail):
                return None
            added.extend(tail)
        return added

    # -- maintenance ------------------------------------------------------

    def delta_file_counts(self) -> dict[int, int]:
        """Per-bucket count of unfolded MOR delta file entries (the
        read-amplification measure compaction bounds); buckets with none
        are omitted. Driver-side manifest walk, no Spark job. The single
        source of truth for 'how many deltas does bucket b carry' — used
        by :meth:`compact`'s dirty detection and the pipeline's
        auto-compaction probe."""
        counts: dict[int, int] = {}
        for b, entries in self.bucket_entries():
            n = sum(1 for e in entries if e.get("kind") == "delta")
            if n:
                counts[int(b)] = n
        return counts

    def _tombstone_buckets(self, candidates: list[int]) -> list[int]:
        """Buckets among ``candidates`` holding at least one tombstone —
        a column-pruned scan (keys + deleted flag only, the payload never
        leaves parquet) returning ≤ num_buckets ints."""
        entries = [e for _, es in self.bucket_entries(candidates) for e in es]
        df = self._read_files(entries, self.manifest["current_schema_id"])
        if df is None:
            return []
        hits = (
            df.where(F.coalesce(F.col(DELETED_COL), F.lit(False)))
            .select(self.bucket_column(df).alias("__bucket"))
            .distinct()
            .collect()
        )
        return sorted(r["__bucket"] for r in hits)

    def _compacts_on_driver(
        self, dirty: list[int], zorder: "list[str] | None"
    ) -> bool:
        """Whether :meth:`compact` folds ``dirty`` on the driver: a linear
        rewrite (no ``zorder``) of a table :meth:`driver_write_schema`
        accepts as it stands, keyed on types Arrow groups as Spark does,
        whose dirty buckets' files sum to fewer on-disk bytes than
        ``DRIVER_DISCOVERY_MAX_BYTES`` (Catalyst's estimate of a parquet
        scan is that same sum). The one place this is decided."""
        from sap_spark.operators.dedup import arrow_groups_like_spark

        if zorder or self.driver_write_schema(self.schema) is None:
            return False
        if not all(arrow_groups_like_spark(f.dataType) for f in self._key_fields):
            return False
        size = sum(
            os.path.getsize(e["path"])
            for _, entries in self.bucket_entries(dirty)
            for e in entries
        )
        return size < DRIVER_DISCOVERY_MAX_BYTES

    def _read_arrow_buckets(self, buckets: list[int]) -> "pa.Table":
        """``read_internal(buckets=buckets)`` read and folded on the driver,
        as a pyarrow Table with each row's ``__bucket`` (the bucket its
        file is listed under; nothing is hashed). Each file is read with
        pyarrow and conformed to the current internal schema's Arrow types
        as :meth:`_read_files` conforms it (a column its schema lacked is
        NULL, a widened one is cast). A bucket holding delta files folds
        as :meth:`_fold_latest` does: float keys normalized as Spark
        groups them, each key's row with the largest
        ``coalesce(_event_seq, -1)`` wins, and a tie (a re-delivered
        event) goes to the row read last. Base-only buckets pass through
        as read."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from sap_spark.operators.dedup import normalize_float_keys

        target = to_arrow_schema(self._schema_with_internal())
        # nullable throughout, as Spark writes every parquet column
        schema = pa.schema(
            [*(f.with_nullable(True) for f in target), ("__bucket", pa.int32())]
        )
        parts = {False: [], True: []}  # by "the bucket has delta files"
        for b, entries in self.bucket_entries(buckets):
            folds = any(e.get("kind") == "delta" for e in entries)
            for e in entries:
                got = pq.read_table(
                    e["path"], partitioning=None, coerce_int96_timestamp_unit="us"
                )
                cols = [
                    got[f.name].cast(f.type)
                    if f.name in got.column_names
                    else pa.nulls(got.num_rows, f.type)
                    for f in target
                ]
                cols.append(pa.array(np.full(got.num_rows, int(b), np.int32)))
                parts[folds].append(pa.Table.from_arrays(cols, schema=schema))
        empty = schema.empty_table()
        base = pa.concat_tables([empty, *parts[False]])
        rows = normalize_float_keys(
            pa.concat_tables([empty, *parts[True]]), self.key_columns
        )
        ranked = pc.sort_indices(
            pa.table(
                {
                    "seq": pc.fill_null(rows[SEQ_COL], -1),
                    "pos": pa.array(np.arange(rows.num_rows)),
                }
            ),
            sort_keys=[("seq", "descending"), ("pos", "descending")],
        )
        firsts = (
            pa.table(
                {
                    **{k: rows[k].take(ranked) for k in self.key_columns},
                    "__rank": pa.array(np.arange(rows.num_rows)),
                }
            )
            .group_by(self.key_columns, use_threads=False)
            .aggregate([("__rank", "min")])
        )
        return pa.concat_tables([base, rows.take(ranked.take(firsts["__rank_min"]))])

    def compact(
        self,
        only_dirty: bool = True,
        purge_tombstones: bool = True,
        buckets: "list[int] | None" = None,
        zorder: "list[str] | None" = None,
    ) -> list[int]:
        """Fold MOR deltas and (by default) purge tombstones.

        Tombstone purge is a checkpoint-barrier op: a tombstone carries
        the delete's event_seq and version-gates any late out-of-order
        event below it, so purging is only safe once no event older than
        any tombstone can still arrive (below the low-watermark delta
        token) — schedule it from maintenance, not mid-stream.

        ``purge_tombstones=False`` is the mid-stream-safe variant (used
        by the pipeline's auto-compaction): delta files fold into the
        base — the read-amplification fix — but deleted keys keep their
        folded tombstone row (a key + seq + null payload — tiny), so the
        version gate survives and the rewrite is observably equivalent
        at ANY epoch boundary. Tombstone-only buckets are then not
        dirty: nothing to fold.

        By default only DIRTY buckets are rewritten — those holding delta
        files or tombstones (tombstones found by a key/flag-pruned scan)
        — and clean buckets carry over by reference, so compaction cost
        is O(dirty data), not O(table). A fully-clean table is a no-op
        (no new version). ``only_dirty=False`` rewrites everything (full
        file-count reset). ``buckets`` restricts the rewrite to that
        subset (intersected with the dirty set) — under skew a hot
        bucket crosses its delta threshold every few epochs, and
        refolding every delta-bearing bucket each time would rewrite
        cold base files repeatedly; selective compaction keeps write
        amplification at one base rewrite per N delta files PER BUCKET.
        Returns the bucket ids rewritten.

        ``zorder``: cluster the rewritten files by the interleaved
        quantile ranks of these columns (plans/clustering.py — the
        Delta ``OPTIMIZE ZORDER BY`` analog) instead of the table's
        linear ``sort_columns``. Pair with ``stats_columns`` covering
        the same columns and ``max_records_per_file`` so each bucket
        spills several files with disjoint multi-dimensional ranges —
        that is what lets ``read(where=...)`` skip on ANY of the
        clustered columns, not just the first sort key. Usually run
        with ``only_dirty=False``: clustering only the dirty buckets
        leaves the rest linear.

        Where it runs (:meth:`_compacts_on_driver` decides, and
        ``last_compact_on`` records it): a linear rewrite of a table
        :meth:`driver_write_schema` accepts, whose dirty buckets' files
        sum below ``DRIVER_DISCOVERY_MAX_BYTES`` on disk, folds on the
        driver — pyarrow reads the files (:meth:`_read_arrow_buckets`),
        Arrow keeps each key's latest row, and :meth:`_write_arrow_buckets`
        writes the result with the table's layout, no Spark job. Every
        other compaction (``zorder``, larger buckets, a COW table, a type
        or codec the driver writer refuses) reads, folds and writes
        through Spark. Both commit the same way."""
        # restrict the candidate universe FIRST so a selective compaction
        # never pays the tombstone key/flag scan over buckets outside the
        # requested subset (O(subset), not O(table))
        _check_layout_columns(
            {f.name for f in self.schema.fields} | set(INTERNAL_COLS),
            "zorder columns",
            zorder,
        )
        universe = {int(b) for b, _ in self.bucket_entries()}
        if buckets is not None:
            universe &= set(buckets)
        if only_dirty:
            counts = self.delta_file_counts()  # one manifest walk, not one per bucket
            delta = sorted(b for b in universe if b in counts)
            if purge_tombstones:
                clean_candidates = sorted(universe - set(delta))
                dirty = sorted(
                    set(delta) | set(self._tombstone_buckets(clean_candidates))
                )
            else:
                dirty = delta
        else:
            dirty = sorted(universe)
        self.last_compact_on = None
        if not dirty:
            return []
        if self._compacts_on_driver(dirty, zorder):
            import pyarrow.compute as pc

            self.last_compact_on = "driver"
            rows = self._read_arrow_buckets(dirty)
            if purge_tombstones:
                rows = rows.filter(
                    pc.invert(pc.fill_null(rows[DELETED_COL], False))
                )
            new_buckets = self._write_arrow_buckets(rows)
        else:
            self.last_compact_on = "tasks"
            live = self.read_internal(buckets=dirty)
            if purge_tombstones:
                live = live.where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
            prepared = live.withColumn("__bucket", self.bucket_column(live))
            new_buckets = self._write_buckets(
                prepared, n_partitions=len(dirty), zorder=zorder
            )
        manifest = self._replace_buckets(self._edit(), new_buckets, drop=dirty)
        # self-describing commit: if the caller crashes between this commit
        # and its own bookkeeping (e.g. the pipeline's lineage append), the
        # table history still attributes this version to a compaction
        # instead of leaving an unexplained bucket rewrite
        op = {
            "type": "compact",
            "buckets": dirty,
            "purge_tombstones": purge_tombstones,
        }
        if zorder:
            op["zorder"] = list(zorder)
        self._commit(manifest, op=op)
        return dirty

    def rebucket(
        self, new_num_buckets: int, zorder: "list[str] | None" = None
    ) -> None:
        """Change the hash-bucket count — the partition-spec-evolution
        analog (Iceberg ``REPLACE PARTITION FIELD bucket(N, k) WITH
        bucket(M, k)``). The count is sized for day-one data
        (:func:`derive_num_buckets`); a table that grows to the
        10^10-row regime needs more buckets or merges cap at N tasks
        and per-bucket files blow past the scan-friendly range, while
        a table that shrank after a purge wants fewer.

        Resharding inherently rewrites every byte once — same cost
        class as a full compaction — so what matters at scale is the
        commit discipline, not avoiding the rewrite: this is ONE
        atomic commit (readers on the old version keep a consistent
        snapshot; time travel to it still works until
        :meth:`expire_snapshots`), MOR deltas fold into the new base,
        and tombstones are carried — never purged — so the event_seq
        version gate survives and the op is safe at any epoch
        boundary, exactly like the pipeline's auto-compaction.
        Single-writer op: run it from maintenance, not concurrently
        with another writer. Per-partition lineage offsets recorded
        before the reshard refer to the OLD numbering; the commit's
        ``op`` annotation (surfaced by :meth:`history`) marks the
        boundary.

        Cluster note: choosing ``new = k * old`` keeps the shuffle
        local — ``pmod(h, k*N) % N == pmod(h, N)``, so every row of
        old bucket b scatters into only the k buckets
        ``{b, b+N, ..., b+(k-1)N}`` instead of all-to-all.

        ``zorder``: cluster the new layout while we're rewriting it
        anyway (see :meth:`compact`) — a reshard and a clustering
        rewrite share one full-table pass instead of costing two."""
        if not isinstance(new_num_buckets, int) or new_num_buckets < 1:
            raise ValueError(
                f"new_num_buckets must be a positive int, got {new_num_buckets!r}"
            )
        old = self.num_buckets
        if new_num_buckets == old:
            raise ValueError(
                f"table already has {old} buckets — rebucket is a full "
                "rewrite, a same-count call is almost certainly a bug"
            )
        _check_layout_columns(
            {f.name for f in self.schema.fields} | set(INTERNAL_COLS),
            "zorder columns",
            zorder,
        )
        live = self.read_internal()  # MOR-folded, tombstones + seq kept
        prepared = live.withColumn(
            "__bucket", key_bucket(self._key_fields, new_num_buckets)
        )
        # _write_buckets derives nothing from num_buckets except the
        # default partition count, which we pass explicitly — the new
        # layout is written before the count flips in the manifest
        manifest = self._replace_buckets(
            self._edit(),
            self._write_buckets(prepared, n_partitions=new_num_buckets, zorder=zorder),
            drop=None,
        )
        manifest["num_buckets"] = new_num_buckets
        op = {"type": "rebucket", "from": old, "to": new_num_buckets}
        if zorder:
            op["zorder"] = list(zorder)
        self._commit(manifest, op=op)

    def expire_snapshots(self, keep_last: int = 1, grace_seconds: float = 0.0) -> int:
        """Delete manifests older than the newest `keep_last` and any data
        files no longer referenced by a retained manifest (Iceberg
        `expireSnapshots` analog), then the bloom sidecars and sidecar
        tmps whose data file is gone (:func:`sidecar_debris`). Returns the
        number of data files removed. Time travel to expired versions
        stops working; the current snapshot is never touched.

        ``grace_seconds``: spare unreferenced files (sidecars included)
        younger than this.
        An in-flight writer spills its commit dir BEFORE flipping the
        manifest pointer, so for that window its files are
        indistinguishable from orphans; a maintenance job running next
        to a live pipeline must pass a grace comfortably above the
        longest write (orphans from dead writers age into the next
        expiry). The default 0 is for exclusive maintenance windows.

        The keep walk starts from the LATEST manifest on disk, not this
        handle's pinned version — a handle loaded before a live
        pipeline's commits (or pinned by time travel) must never expire
        versions NEWER than itself, which would silently roll the table
        back and orphan the newer versions' data files. The handle's own
        pinned version is always retained too (the chain is kept
        contiguous from latest down to it), and manifests newer than the
        entry-time latest — concurrent commits landing mid-expiry — are
        never touched."""
        latest = self._current_version()
        pinned = self.version
        kept: dict[int, dict] = {}
        for v, m in self._chain(latest):
            kept[v] = m
            if len(kept) >= keep_last and v <= pinned:
                break
        # every file referenced by a retained manifest survives
        referenced = {
            data_file_key(e["path"])
            for m in kept.values()
            for _, entries in self.bucket_entries(manifest=m)
            for e in entries
        }
        scanned = scan_data_files(self.path)
        missing = referenced - set(scanned)
        if missing:
            # a retained manifest references files the scan can't see —
            # deleting anything now could destroy the current snapshot
            raise FileNotFoundError(
                "expire_snapshots aborted: retained manifests reference "
                f"files absent from the data scan (first: {sorted(missing)[0]})"
            )
        # Mutation order is crash-window-sound: (1) trim the oldest kept
        # manifest's parent pointer FIRST — from that instant every chain
        # walk (history, version_as_of, the next expiry's keep walk) ends
        # inside the retained set, so a crash at any later step leaves
        # only harmless unreferenced debris the next expiry sweeps; then
        # (2) drop expired manifests; then (3) delete data files and
        # (4) the bloom sidecars their deletion orphaned. The old order
        # (delete manifests, then trim) left a window where the retained
        # chain dangled into a removed manifest, wedging every walk with
        # FileNotFoundError.
        oldest = min(kept)
        m = kept[oldest]
        if m["parent"] is not None:
            # freeze the stamp: the rewrite resets the file mtime that a
            # legacy stamp-less manifest's timestamp falls back to, and
            # retained legacy snapshots must stay reachable by timestamp
            m["committed_at"] = self._stamp(oldest, m)
            m["parent"] = None
            tmp = self._manifest_path(oldest) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(m, f)
            os.replace(tmp, self._manifest_path(oldest))
        for mf, ver in self._manifest_versions().items():
            # ver > latest: a writer committed AFTER our entry-time scan —
            # that snapshot (and its files, grace-aged) is someone else's
            # live state, never expiry's to remove
            if ver not in kept and ver <= latest:
                try:
                    os.remove(mf)
                except FileNotFoundError:
                    pass  # a concurrent expiry (auto-expire on a second
                    # pipeline) already swept it — deletion is idempotent
        now = time.time()

        def aged(f: str) -> bool:
            if grace_seconds <= 0:
                return True
            try:
                return now - os.path.getmtime(f) >= grace_seconds
            except OSError:
                return False  # vanished mid-scan: someone else's problem

        removed = 0
        live = []
        for key, f in scanned.items():
            if key in referenced or not aged(f):  # young: possibly in flight
                live.append(f)
                continue
            try:
                os.remove(f)
                removed += 1
            except FileNotFoundError:
                pass  # concurrent expiry won the race to this file
        for f in sidecar_debris(self.path, live):
            if aged(f):
                try:
                    os.remove(f)
                except FileNotFoundError:
                    pass
        return removed

    def history(self) -> list[dict]:
        """Commit history (version, parent, commit wall-clock, commits
        count, schema id, and the commit's ``op`` annotation when one was
        recorded — e.g. a compaction's rewritten buckets)."""
        return [
            {
                "version": m["version"],
                "parent": m["parent"],
                "committed_at": m.get("committed_at"),
                "n_commits": len(m["commits"]),
                "schema_id": m["current_schema_id"],
                "op": m.get("op"),
            }
            for _, m in self._chain(self.version)
        ]

    # -- timestamp time travel --------------------------------------------

    @staticmethod
    def _as_epoch_seconds(ts: "float | int | str | object") -> float:
        """Epoch seconds from a float/int, :class:`datetime.datetime`, or
        ISO-8601 string. A naive datetime/string is taken as UTC — the
        session timezone is pinned UTC (sap_spark.config.get_spark), so
        rendered timestamps round-trip."""
        from datetime import datetime, timezone

        if isinstance(ts, bool):  # bool is an int subclass; reject it
            raise TypeError("as-of timestamp must be epoch seconds, "
                            "datetime, or ISO-8601 string")
        if isinstance(ts, (int, float)):
            return float(ts)
        if isinstance(ts, datetime):
            dt = ts
        elif isinstance(ts, str):
            dt = datetime.fromisoformat(ts)
        else:
            raise TypeError(
                f"as-of timestamp must be epoch seconds, datetime, or "
                f"ISO-8601 string, got {type(ts).__name__}"
            )
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()

    def committed_at(self, version: int | None = None) -> float:
        """Commit wall-clock (epoch seconds) of a retained version.
        Manifests written before the ``committed_at`` stamp existed fall
        back to the manifest file's mtime (best effort: maintenance
        rewrites — e.g. expire's parent-chain trim — refresh an mtime but
        never drop a recorded stamp)."""
        v = self.version if version is None else version
        return self._stamp(v, self._load_manifest(v))

    def version_as_of(self, ts: "float | str | object") -> int:
        """Highest retained version committed at or before ``ts`` — the
        Iceberg ``FOR TIMESTAMP AS OF`` semantics (its
        ``SnapshotUtil.snapshotIdAsOfTime`` walks the snapshot log in
        commit order and keeps the last entry with timestamp ≤ ts): the
        VERSION chain, not the wall clock, orders commits, so a clock
        regression between commits can never hide a later commit, and a
        future ``ts`` always resolves to the current head. Resolution is
        monotone in ``ts``. Raises :class:`ValueError` when ``ts``
        predates every retained snapshot (earlier history may have been
        removed by :meth:`expire_snapshots`). The Iceberg binding gets
        this natively from the catalog (``FOR SYSTEM_TIME AS OF``)."""
        target = self._as_epoch_seconds(ts)
        # the chain always yields the current version, so v and ca are
        # the oldest retained snapshot's when the loop runs out
        for v, m in self._chain(self._current_version()):
            ca = self._stamp(v, m)
            if ca <= target:
                return v  # chain walk is newest-first: first hit wins
        raise ValueError(
            f"as-of timestamp {ts!r} predates the retained history (oldest "
            f"retained snapshot is v{v} committed at {ca:.6f}); earlier "
            "snapshots may have been removed by expire_snapshots"
        )
