"""Manifest file statistics + predicate-based file skipping.

Iceberg-style data skipping for :class:`~sap_spark.plans.lake.LakeTable`:
every committed data file carries per-column ``[min, max]`` bounds in the
manifest (collected from the parquet footer at commit time), and
``LakeTable.read(where=...)`` drops files whose bounds cannot satisfy the
predicate BEFORE Spark ever lists or opens them.

Why this matters at 100 TB: Spark's own parquet pushdown prunes row
groups, but only after opening every file's footer — a million-file
table pays a million remote footer GETs per query. Manifest-level
bounds move that decision into the driver-side planning walk (zero
I/O), which is exactly the mechanism Iceberg/Delta use. Reference
analog: the OData source's server-side ``$filter`` pushdown
(SapODataConfig query building) — the same "don't ship what the
predicate excludes" contract, applied to the table format instead of
the wire protocol.

Soundness rules (enforced by the caller, tested in
tests/test_stats_pruning.py):

- Pruning is BEST-EFFORT and one-sided: a kept file may still contain
  no matching rows (the full predicate is re-applied post-scan); a
  dropped file must provably contain none.
- Only conjuncts on the top-level ``And`` spine of SPARK'S OWN parse
  tree prune, and only those shaped ``column <op> literal``. Anything
  else on the spine (``OR``/``NOT`` subtrees, ``CASE WHEN``, ``IN``,
  function calls) is skipped individually — under ``a AND (b OR c)``
  only ``a`` is required, and the parse tree says exactly that.
- Under merge-on-read, non-key conjuncts must NOT prune files in
  delta-bearing buckets: the read-time fold picks the latest version
  per key, and dropping the file holding the LATEST version (which
  fails the predicate) would resurrect an older version (which passes)
  — a phantom row. Key-column conjuncts are safe everywhere: the fold
  groups by key, so removing rows of non-matching keys never changes a
  matching key's winner.

Collection locality (the Iceberg writer-collects-stats model, kept for
commits large enough to pay for it): a commit of many files, or one whose
metadata reads column DATA — blooms, NaN counts — over more than a
measured byte crossover, collects task-side in one Spark job via
:func:`collect_metadata_distributed`. Every smaller commit collects on the
driver, where reading a few footers and column chunks costs less than
launching that job (see plans/lake.LakeTable._collect_commit_metadata).
Both paths share :func:`collect_entry_metadata`, so manifest entries and
sidecars are identical regardless of where collection ran.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal
from functools import lru_cache

# bounds longer than this are not stored: a PREFIX of a string max is a
# smaller string, i.e. an INVALID upper bound, so oversized bounds are
# dropped rather than truncated (min-side prefixing would be safe, but
# asymmetric bounds are a foot-gun for no real win)
_MAX_STORED_STR = 256

_PRUNABLE_OPS = {"=", "==", "<", "<=", ">", ">="}


# ---------------------------------------------------------------------------
# stats collection (commit-time, parquet footer)
# ---------------------------------------------------------------------------


def _encode_bound(v):
    """JSON-safe encoding of one min/max bound; None = not storable."""
    if isinstance(v, bool) or v is None:
        return None  # boolean bounds prune nothing worth the bytes
    if isinstance(v, float) and not math.isfinite(v):
        # Spark's parquet writer records max=NaN for NaN-bearing files,
        # and every Python comparison against NaN is False — keeping the
        # bound would make file_may_match silently drop files whose rows
        # DO match (law 8). ±Inf is droppable for a cheaper reason: it is
        # valid but json.dump would emit non-RFC tokens. None ⇒ the
        # column goes dead for this file ⇒ never pruned on.
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v if len(v) <= _MAX_STORED_STR else None
    if isinstance(v, bytes):
        try:
            s = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
        return s if len(s) <= _MAX_STORED_STR else None
    if isinstance(v, datetime):
        return {"$ts": v.isoformat()}
    if isinstance(v, date):
        return {"$d": v.isoformat()}
    return None


def decode_bound(v):
    """Inverse of :func:`_encode_bound` after a JSON round-trip.

    Non-finite floats decode to None (= bound missing, keep the file):
    new writers never store them, but manifests written BEFORE the
    NaN-soundness fix can carry Spark's max=NaN verbatim (json.loads
    accepts the bare token), and evaluating a comparison against that
    NaN silently prunes matching files — the exact defect the encode
    guard closed for new writes must stay closed for legacy reads."""
    if isinstance(v, dict):
        if "$ts" in v:
            return datetime.fromisoformat(v["$ts"])
        if "$d" in v:
            return date.fromisoformat(v["$d"])
        return None
    if isinstance(v, float) and not math.isfinite(v):
        return None
    return v


def collect_parquet_stats(path: str, columns: "list[str]", pf=None) -> dict:
    """``{column: [min, max]}`` from one parquet file's footer, for the
    requested columns only. A column is omitted when any row group
    lacks exact min/max (all-null chunks, unsupported physical types,
    writer-truncated bounds) — absence means "never prune on this".
    ``pf``: a pre-opened :class:`pyarrow.parquet.ParquetFile` — the
    collectors share one footer parse per file (collect_entry_metadata)
    instead of four metadata reads per file per commit."""
    import pyarrow.parquet as pq

    wanted = set(columns)
    if not wanted:
        return {}
    md = (pf if pf is not None else pq.ParquetFile(path)).metadata
    mins: dict = {}
    maxs: dict = {}
    dead: set = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name not in wanted or name in dead:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                continue
            lo, hi = _encode_bound(st.min), _encode_bound(st.max)
            if lo is None or hi is None:
                dead.add(name)
                continue
            if name not in mins or _lt(decode_bound(lo), decode_bound(mins[name])):
                mins[name] = lo
            if name not in maxs or _lt(decode_bound(maxs[name]), decode_bound(hi)):
                maxs[name] = hi
    return {
        name: [mins[name], maxs[name]]
        for name in mins
        if name not in dead and name in maxs
    }


def _lt(a, b) -> bool:
    try:
        return a < b
    except TypeError:
        return False


# ---------------------------------------------------------------------------
# per-file bloom filters (point-lookup skipping on non-clustered columns)
# ---------------------------------------------------------------------------
#
# Min/max bounds only skip when values are clustered; a high-cardinality
# scattered column — the commit sha of the north-rule schema is the
# canonical case — spans its whole domain in every file, so "WHERE
# commit = '<sha>'" scans everything. A tiny per-file bloom (k=7, sized
# from the file's row count at ~12 bits/row so the false-positive rate
# stays ~1e-3 regardless of file size: 2 KiB floor, 8 KiB at the 4k-row
# bench files, 128 KiB cap ≈ 87k rows before fp degrades) lets an
# equality conjunct drop almost every file driver-side, same as
# Iceberg/Parquet bloom skipping but at planning granularity: no data
# file is even opened (only its tiny bloom sidecar — see the sidecar
# section below). The bitmap's own length carries its size, so files
# written under different sizing coexist in one manifest. Collection
# reads the column's DATA at commit time (not just the footer) —
# opt-in via create(bloom_columns=[...]) for exactly that reason.
# Soundness is inherited: a bloom-missing file is kept, a bloom hit is
# "maybe", only a definite miss drops the file, and the caller applies
# the same key/non-key MOR split as for bounds.

_BLOOM_MIN_M = 16384  # bits -> 2 KiB floor per file per column
_BLOOM_MAX_M = 1 << 20  # 128 KiB cap per sidecar (fp degrades past ~87k rows)
_BLOOM_BITS_PER_ROW = 12  # k=7 at 12 bits/value -> fp ~6e-4
_BLOOM_K = 7


def _bloom_m_for_rows(n_rows: int) -> int:
    """Power-of-two bit count for a file of ``n_rows`` (row count upper-
    bounds the distinct count; footer-known, no extra pass)."""
    m = _BLOOM_MIN_M
    while m < min(n_rows * _BLOOM_BITS_PER_ROW, _BLOOM_MAX_M):
        m <<= 1
    return m


def _bloom_tag(value) -> "str | None":
    """Type class of one value for bloom purposes ('i'/'s'/'b'), or
    None when the type is not bloomable. Floats/times/bools are
    excluded — their write/query coercion is ambiguous."""
    if isinstance(value, bool) or value is None:
        return None
    if isinstance(value, int):
        return "i"
    if isinstance(value, str):
        return "s"
    if isinstance(value, bytes):
        return "b"
    return None


def _bloom_hash_pair(tag: str, data: bytes) -> "tuple[int, int]":
    """Double-hashing pair from a (type tag, canonical bytes) value —
    size-independent, so one pair probes bitmaps of any m; the uncached
    kernel is used directly by the write-side loop where a
    high-cardinality column (a sha — the feature's target) would only
    churn a cache."""
    h = hashlib.blake2b(tag.encode() + b":" + data, digest_size=16).digest()
    h1 = int.from_bytes(h[:8], "little")
    h2 = int.from_bytes(h[8:], "little") | 1  # odd -> good double hashing
    return h1, h2


def _bloom_indexes(h1: int, h2: int, m: int) -> "list[int]":
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


# query-side wrapper: a read's planning walk probes the SAME literal
# against every manifest entry, so cache by (tag, bytes) — keying on the
# raw value would let True collide with 1 and 1.0 with 1 under ==/hash
_bloom_pair_cached = lru_cache(maxsize=1024)(_bloom_hash_pair)


def _bloom_canonical(value) -> "tuple[str, bytes] | None":
    """(type tag, canonical bytes) for one value, or None when the type
    is not bloomable. The canonical form must agree between the write
    side (pyarrow Python values) and the query side (Catalyst literal
    values): text for ints, UTF-8 for strings."""
    tag = _bloom_tag(value)
    if tag is None:
        return None
    return tag, (value if tag == "b" else str(value).encode("utf-8"))


def _bloom_hashes(value, m: int = _BLOOM_MIN_M) -> "list[int] | None":
    """Query-side convenience: k bit indexes for one literal against an
    m-bit bitmap, or None when unbloomable."""
    canon = _bloom_canonical(value)
    if canon is None:
        return None
    return _bloom_indexes(*_bloom_pair_cached(*canon), m)


def collect_parquet_bloom(
    path: str, columns: "list[str]", pf=None
) -> "dict[str, dict]":
    """``{column: {"t": type-tag, "b": base64 bloom}}`` built from one
    parquet file's column DATA. A column is omitted when any value
    isn't bloomable (floats, nested types) — absence means "never
    prune on this". The stored type tag is what makes cross-type
    lookups sound (see :func:`bloom_may_match`)."""
    import base64

    import pyarrow.parquet as pq

    if not columns:
        return {}
    if pf is None:
        pf = pq.ParquetFile(path)
    present = [c for c in columns if c in set(pf.schema_arrow.names)]
    m = _bloom_m_for_rows(pf.metadata.num_rows)
    out: dict[str, dict] = {}
    for c in present:
        bits = bytearray(m // 8)
        ok = True
        tag = None
        for batch in pf.iter_batches(columns=[c]):
            for v in batch.column(0).to_pylist():
                if v is None:
                    continue
                canon = _bloom_canonical(v)
                if canon is None or (tag is not None and canon[0] != tag):
                    ok = False  # unbloomable or (impossible) mixed types
                    break
                tag = canon[0]
                h1, h2 = _bloom_hash_pair(*canon)
                for b in _bloom_indexes(h1, h2, m):
                    bits[b >> 3] |= 1 << (b & 7)
            if not ok:
                break
        if ok and tag is not None:
            out[c] = {"t": tag, "b": base64.b64encode(bytes(bits)).decode()}
    return out


# ---------------------------------------------------------------------------
# bloom sidecars (out-of-line bitmaps: manifests stay metadata-sized)
# ---------------------------------------------------------------------------
#
# Row-count-sized bitmaps inline in the manifest don't survive scale:
# at the design point (10^5+ files, 128 KiB cap, +33% base64) the JSON
# manifest that every commit loads, scrubs, and deep-copies would grow
# to GBs. So the bitmaps live OUT-OF-LINE, one sidecar per data file at
# ``<file>.parquet.bloom`` — the Iceberg puffin-file analog at per-file
# granularity. The manifest entry carries only ``bloom_ref`` (the list
# of bloomed columns, a few bytes); the read path loads a sidecar
# lazily, only for files that survived bounds/null pruning AND only
# when an equality/IN conjunct actually names a bloomed column, with an
# mtime-keyed cache so repeated point lookups pay the IO once. The
# sidecar shares the data file's lifecycle exactly: written (atomic
# tmp+rename) by the same task that collects the file's metadata, and
# swept by expire_snapshots, with any stranded tmp, once its data file
# is gone (plans/lake.sidecar_debris). A missing/corrupt sidecar
# degrades to "keep the file" — same keep-on-doubt contract as every
# other skipping layer. Legacy manifests with inline ``bloom`` entries
# keep working unchanged.


def bloom_sidecar_path(data_path: str) -> str:
    return data_path + ".bloom"


def write_bloom_sidecar(data_path: str, blooms: "dict[str, dict]") -> None:
    """Atomically publish one data file's bloom bitmaps next to it.
    tmp+rename so a concurrent reader never sees a torn sidecar."""
    import json
    import os

    final = bloom_sidecar_path(data_path)
    tmp = f"{final}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(blooms, f)
    os.replace(tmp, final)


@lru_cache(maxsize=4096)
def _load_bloom_sidecar_cached(
    sidecar: str, mtime_ns: int, size: int
) -> "dict[str, dict]":
    import json

    try:
        with open(sidecar) as f:
            out = json.load(f)
        return out if isinstance(out, dict) else {}
    except Exception:  # noqa: BLE001 — unreadable sidecar: keep the file
        return {}


def load_bloom_sidecar(data_path: str) -> "dict[str, dict]":
    """One data file's bloom bitmaps from its sidecar, ``{}`` when the
    sidecar is absent or unreadable (absence means "never prune").
    Cached on (path, mtime, size): sidecars are immutable once
    published, so a planning walk probing many literals against the
    same files pays the read once."""
    import os

    sidecar = bloom_sidecar_path(data_path)
    try:
        st = os.stat(sidecar)
    except OSError:
        return {}
    return _load_bloom_sidecar_cached(sidecar, st.st_mtime_ns, st.st_size)


def collect_entry_metadata(
    path: str, stats_cols: "list[str]", bloom_cols: "list[str]"
) -> dict:
    """Every manifest-entry metadata layer for one data file — min/max
    bounds + null counts (footer-only), NaN counts for float stats
    columns and blooms (column-data reads) — as one JSON-safe dict.
    Shared verbatim by the driver walk and the task-side
    distributed pass (plans/lake.py), so the manifests both produce are
    identical by construction. Per-layer failures are swallowed: stats
    are an optimization and must never fail the commit. The file's
    footer is parsed ONCE and shared by all four collectors — on remote
    storage the uncached form was four metadata GETs per file per
    commit, the very cost manifest stats exist to eliminate."""
    import pyarrow.parquet as pq

    meta: dict = {}
    try:
        pf = pq.ParquetFile(path)
    except Exception:  # noqa: BLE001 — unreadable file: no metadata
        return meta
    if stats_cols:
        try:
            st = collect_parquet_stats(path, stats_cols, pf=pf)
        except Exception:  # noqa: BLE001
            st = {}
        if st:
            meta["stats"] = st
        try:
            nl = collect_parquet_nulls(path, stats_cols, pf=pf)
        except Exception:  # noqa: BLE001
            nl = {}
        if nl.get("counts"):
            meta["nulls"] = nl
        try:
            nn = collect_parquet_nans(path, stats_cols, pf=pf)
        except Exception:  # noqa: BLE001
            nn = {}
        if nn:
            # a recorded 0 is the NaN-absence proof that re-enables
            # upper-bound pruning on float columns — always stored
            meta["nan"] = nn
    if bloom_cols:
        try:
            bl = collect_parquet_bloom(path, bloom_cols, pf=pf)
        except Exception:  # noqa: BLE001
            bl = {}
        if bl:
            try:
                # bitmaps go out-of-line: the manifest carries only the
                # bloomed-column list, and (task-side) the bitmap bytes
                # never cross to the driver at all
                write_bloom_sidecar(path, bl)
                meta["bloom_ref"] = sorted(bl)
            except Exception:  # noqa: BLE001 — unwritable sidecar:
                meta["bloom"] = bl  # fall back inline (sound, legacy form)
    return meta


def collect_metadata_distributed(
    spark, paths: "list[str]", stats_cols: "list[str]", bloom_cols: "list[str]"
) -> "dict[str, dict]":
    """Task-side manifest metadata for a commit's newly-written files:
    one Spark job with no shuffle (``parallelize(paths).mapPartitions``),
    one task per group of files, each task running
    :func:`collect_entry_metadata` against files it reads LOCALLY
    (shared storage on a cluster) and returning ``(path, json)`` pairs
    of the small metadata blob (bounds + the bloomed-column list — bloom
    bitmaps are published to per-file sidecars task-side). The driver
    assembles manifests from the collected blobs without touching column
    data — the Iceberg writer-collects-stats model. The job's fixed cost
    (~0.3 s of scheduling and Python-worker start) is why small commits
    take the driver walk instead (plans/lake.LakeTable.
    _collect_commit_metadata); past the crossover this pass scales with
    executor count like the write job that produced the files."""
    if not paths:
        return {}
    import json

    sc_cols, bl_cols = list(stats_cols or []), list(bloom_cols or [])

    def _collect(part):
        from sap_spark.plans.stats import collect_entry_metadata

        for p in part:
            try:
                meta = json.dumps(
                    collect_entry_metadata(p, sc_cols, bl_cols), allow_nan=False
                )
            except Exception:  # noqa: BLE001 — stats never fail a commit
                meta = "{}"
            yield p, meta

    sc = spark.sparkContext
    n = max(1, min(len(paths), int(sc.defaultParallelism)))
    # bounded: O(files-per-commit) small JSON blobs
    pairs = sc.parallelize(paths, n).mapPartitions(_collect).collect()
    return {p: json.loads(meta) for p, meta in pairs}


def bloom_may_match(
    blooms: "dict[str, dict]", conjuncts: "list[tuple[str, str, object]]"
) -> bool:
    """Could a file with these per-column blooms contain a row matching
    every EQUALITY conjunct? Missing blooms / non-equality ops /
    unbloomable literals keep the file.

    Type guard: the conjunct literal comes from Spark's UNRESOLVED
    parse tree, so ``WHERE y = '7'`` on a bigint column carries the
    Python str ``'7'`` while the file's bloom holds ints — Spark's own
    analyzer would cast and match, so pruning on the raw-type miss
    would silently lose rows. A literal whose type class differs from
    the bloom's stored tag therefore KEEPS the file (the bounds layer
    makes the same keep-on-type-mismatch choice in ``_coerce``)."""
    import base64

    def _definitely_absent(entry, lit) -> bool:
        if _bloom_tag(lit) != entry.get("t"):
            return False  # cross-type: Spark may cast-match — keep
        bits = base64.b64decode(entry["b"])
        # the bitmap length IS its size: files written under different
        # sizing policies coexist in one manifest
        idx = _bloom_hashes(lit, m=len(bits) * 8)
        return any(not (bits[b >> 3] >> (b & 7)) & 1 for b in idx)

    for col, op, lit in conjuncts:
        entry = blooms.get(col)
        if not isinstance(entry, dict) or "b" not in entry:
            continue
        if op == "=":
            if _definitely_absent(entry, lit):
                return False
        elif op == "in":
            # prune only when EVERY member is a definite miss
            if lit and all(_definitely_absent(entry, m) for m in lit):
                return False
    return True


def collect_parquet_nulls(path: str, columns: "list[str]", pf=None) -> dict:
    """``{"rows": <file rows>, "counts": {column: null_count}}`` from one
    parquet file's footer. A column is omitted when any row group lacks
    an exact null count — absence means "never prune on this"."""
    import pyarrow.parquet as pq

    md = (pf if pf is not None else pq.ParquetFile(path)).metadata
    wanted = set(columns)
    counts: dict = {}
    dead: set = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name not in wanted or name in dead:
                continue
            st = col.statistics
            if st is None or not st.has_null_count:
                dead.add(name)
                continue
            counts[name] = counts.get(name, 0) + st.null_count
    return {
        "rows": md.num_rows,
        "counts": {k: v for k, v in counts.items() if k not in dead},
    }


def collect_parquet_nans(
    path: str, columns: "list[str]", pf=None
) -> "dict[str, int]":
    """``{column: NaN count}`` for the float/double columns among
    ``columns`` — the Iceberg ``nan_value_counts`` analog. Spec-compliant
    parquet writers OMIT NaN from min/max stats, so a file can carry
    clean-looking float bounds while its NaN rows (which Spark orders
    LARGER than every value) match any ``>``/``>=`` predicate; a proven
    count of 0 is what re-enables upper-bound pruning on float columns
    (:func:`file_may_match`). Reads the float columns' data, so a large
    commit runs it task-side (:func:`collect_metadata_distributed`) and a
    small one on the driver (plans/lake.LakeTable._collect_commit_metadata).
    Non-float columns are skipped without reading anything."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if not columns:
        return {}
    if pf is None:
        pf = pq.ParquetFile(path)
    arrow_schema = pf.schema_arrow
    float_cols = [
        c
        for c in columns
        if c in arrow_schema.names
        and pa.types.is_floating(arrow_schema.field(c).type)
    ]
    out: dict[str, int] = {}
    for c in float_cols:
        n = 0
        for batch in pf.iter_batches(columns=[c]):
            is_nan = pc.is_nan(batch.column(0))
            n += pc.sum(is_nan).as_py() or 0
        out[c] = int(n)
    return out


def nulls_may_match(
    nulls: dict, conjuncts: "list[tuple[str, str, object]]"
) -> bool:
    """Null-count skipping (the Iceberg value_counts/null_value_counts
    analog): ``IS NULL`` drops a file with zero nulls in the column;
    ``IS NOT NULL`` (and any value predicate, which null rows can never
    satisfy) drops an ALL-null file. Missing counts keep the file."""
    rows = nulls.get("rows")
    counts = nulls.get("counts") or {}
    for col, op, _lit in conjuncts:
        nc = counts.get(col)
        if nc is None:
            continue
        if op == "isnull":
            if nc == 0:
                return False
        elif nc == rows and rows:
            # every row is null in this column: no value predicate —
            # =, range, in, isnotnull — can be satisfied (3VL)
            return False
    return True


def entry_may_match(
    entry: dict,
    conjuncts: "list[tuple[str, str, object]]",
    ts_utc_session: bool = True,
) -> bool:
    """Every skipping layer over one manifest file entry: min/max
    bounds, null counts, then the bloom. Same keep-on-doubt contract
    as each. Blooms are resolved inline (legacy manifests) or from the
    file's sidecar — loaded only when the cheaper layers kept the file
    AND an equality/IN conjunct names a bloomed column, so a scan with
    no bloomable predicate never touches a sidecar."""
    if not file_may_match(
        entry.get("stats") or {},
        conjuncts,
        ts_utc_session,
        nan_counts=entry.get("nan") or {},
    ) or not nulls_may_match(entry.get("nulls") or {}, conjuncts):
        return False
    blooms = entry.get("bloom") or {}
    if not blooms:
        ref = entry.get("bloom_ref")
        if ref and any(
            op in ("=", "in") and col in ref for col, op, _lit in conjuncts
        ):
            blooms = load_bloom_sidecar(entry["path"])
    return bloom_may_match(blooms, conjuncts)


# ---------------------------------------------------------------------------
# predicate → prunable conjuncts
# ---------------------------------------------------------------------------

_CMP_NODES = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}
_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}
_SKIP = object()  # _lit_value sentinel: not a carryable literal
# literal dataType().simpleString() prefixes we know how to carry; a
# DATE/TIMESTAMP/BINARY/interval literal is skipped (its conjunct then
# prunes nothing — sound, just conservative)
_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def parse_conjuncts(spark, where: str) -> "list[tuple[str, str, object]]":
    """Extract the prunable ``(column, op, literal)`` conjuncts of a SQL
    boolean expression by walking the ``And``-spine of SPARK'S OWN
    parse tree (``sessionState().sqlParser().parseExpression``).

    Soundness model: a conjunct may prune only if every matching row
    MUST satisfy it — exactly the children of the top-level ``And``
    chain in the tree Spark itself will evaluate. Any child that is
    not a plain ``column <op> literal`` comparison (``OR``/``NOT``
    trees, ``CASE WHEN``, ``IN``, ``BETWEEN``, function calls,
    ``IS NULL``, column-to-column) is skipped individually while its
    siblings still prune. Using the real parser — not a regex
    approximation — means quoting rules, escape sequences, ``CASE
    WHEN``'s paren-free ``AND`` nesting and every future grammar
    corner are handled by construction. An unparseable ``where``
    returns ``[]`` (the caller's post-filter will surface the real
    error). Literal types carried: ints, floats/decimals, strings;
    a reversed comparison (``7 < k``) flips to ``(k, '>', 7)``."""
    if spark is None:
        return []
    try:
        root = (
            spark._jsparkSession.sessionState().sqlParser().parseExpression(where)
        )
    except Exception:  # noqa: BLE001 — invalid SQL: post-filter reports it
        return []

    conjuncts: list = []

    def _split_and(node) -> None:
        if node.getClass().getSimpleName() == "And":
            _split_and(node.left())
            _split_and(node.right())
        else:
            conjuncts.append(node)

    _split_and(root)

    def _attr_name(node) -> "str | None":
        if node.getClass().getSimpleName() != "UnresolvedAttribute":
            return None
        if node.nameParts().size() != 1:
            return None  # struct paths carry no manifest bounds
        return node.nameParts().apply(0)

    def _lit_value(node):
        """Carried literal value, or the _SKIP sentinel. None means the
        SQL literal NULL (carried: `x IN (1, NULL)`'s null member is
        droppable — null never satisfies IN)."""
        if node.getClass().getSimpleName() != "Literal":
            return _SKIP
        dt = node.dataType().simpleString()
        raw = node.value()
        if raw is None:
            return None
        if dt in _INT_TYPES:
            return int(raw)
        if dt in ("double", "float"):
            return float(raw)
        if dt.startswith("decimal"):
            # exact — Spark compares integral-vs-decimal AS decimal,
            # so a float() here would mis-prune above 2^53
            return Decimal(str(raw))
        if dt == "string":
            return str(raw)
        return _SKIP

    out: list[tuple[str, str, object]] = []
    for node in conjuncts:
        try:
            kind = node.getClass().getSimpleName()
            if kind in ("IsNull", "IsNotNull"):
                col = _attr_name(node.child())
                if col is not None:
                    out.append(
                        (col, "isnull" if kind == "IsNull" else "isnotnull", None)
                    )
                continue
            if kind == "In":
                col = _attr_name(node.value())
                if col is None:
                    continue
                members = []
                ok = True
                lst = node.list()
                for i in range(lst.size()):
                    v = _lit_value(lst.apply(i))
                    if v is _SKIP:
                        # a non-literal / uncarried member could match
                        # anything — the whole conjunct must not prune
                        ok = False
                        break
                    if v is not None:  # NULL member never satisfies IN
                        members.append(v)
                if ok and members:
                    out.append((col, "in", tuple(members)))
                continue
            op = _CMP_NODES.get(kind)
            if op is None:
                continue
            left, right = node.left(), node.right()
            if _attr_name(left) is not None:
                attr, lit = left, right
            elif _attr_name(right) is not None:
                attr, lit = right, left
                op = _FLIP[op]
            else:
                continue
            col = _attr_name(attr)
            val = _lit_value(lit)
            if val is _SKIP or val is None:
                continue  # `col = NULL` matches nothing; let Spark say so
            out.append((col, op, val))
        except Exception:  # noqa: BLE001 — unexpected node surface: skip
            continue
    return out


# ---------------------------------------------------------------------------
# file-level evaluation
# ---------------------------------------------------------------------------


def _coerce(bound, lit, ts_utc_session: bool = True):
    """Comparable (bound, literal) pair mirroring SPARK'S comparison
    semantics for that type pairing; None = incomparable (keep the
    file)."""
    if isinstance(lit, Decimal):
        if isinstance(bound, float):
            # double column vs decimal literal: Spark casts BOTH to
            # double; Python's exact Decimal-vs-float compare would
            # diverge (0.1d != Decimal('0.1') exactly)
            return bound, float(lit)
        if isinstance(bound, int) and not isinstance(bound, bool):
            return Decimal(bound), lit  # integral vs decimal: exact
        return None
    if isinstance(bound, (int, float)) and isinstance(lit, (int, float)):
        if isinstance(bound, float) or isinstance(lit, float):
            # Spark compares int-vs-double by casting BOTH to double
            # (lossy above 2^53); Python's exact mixed compare would
            # diverge from the post-filter and prune a matching file
            return float(bound), float(lit)
        return bound, lit
    if isinstance(bound, str) and isinstance(lit, str):
        return bound, lit
    if isinstance(bound, datetime) and isinstance(lit, str):
        try:
            parsed = datetime.fromisoformat(lit)
        except ValueError:
            return None
        # TIMESTAMP (UTC-adjusted) bounds come back tz-aware while SQL
        # literals are naive and interpreted in the SESSION zone — the
        # attach-UTC shortcut is only sound when the session zone IS
        # UTC (the engine default); any other zone keeps the file
        if bound.tzinfo is not None and parsed.tzinfo is None:
            if not ts_utc_session:
                return None
            parsed = parsed.replace(tzinfo=bound.tzinfo)
        elif bound.tzinfo is None and parsed.tzinfo is not None:
            return None  # ambiguous the other way: keep the file
        return bound, parsed
    if isinstance(bound, date) and isinstance(lit, str):
        try:
            return bound, date.fromisoformat(lit)
        except ValueError:
            return None
    return None


def file_may_match(
    stats: dict,
    conjuncts: "list[tuple[str, str, object]]",
    ts_utc_session: bool = True,
    nan_counts: "dict | None" = None,
) -> bool:
    """Could a file with these ``{col: [min, max]}`` bounds contain a row
    satisfying every conjunct? Missing/incomparable stats keep the file
    (pruning must never be the component that loses a row).
    ``ts_utc_session=False`` disables naive-literal-vs-aware-timestamp
    pruning (the literal's meaning then depends on the session zone).

    NaN soundness on float/double columns: Spark orders NaN LARGER than
    every value, and spec-compliant parquet writers omit NaN from
    min/max — so a file whose bounds look clean can still hold NaN rows
    that satisfy any ``>``/``>=`` conjunct. Upper-bound pruning on a
    float bound therefore requires NaN-absence proof: ``nan_counts``
    (the per-file NaN counts of :func:`collect_parquet_nans`) must
    record 0 for the column, else the conjunct keeps the file. All
    other ops stay sound without proof: rows matching ``=``/``<``/
    ``<=``/``in`` under a non-NaN literal are themselves non-NaN, and
    the omitted-NaN bounds are exact over the non-NaN rows. (A NaN
    LITERAL cannot reach here — SQL has no NaN token and
    parse_conjuncts carries only parse-tree literals.)"""
    nan_counts = nan_counts or {}

    def _nan_unsafe(col, bounds) -> bool:
        """True when the file may hold NaN rows in this float column."""
        return isinstance(decode_bound(bounds[1]), float) and nan_counts.get(col) != 0

    def _within(bounds, lit) -> "bool | None":
        """Could a value equal to ``lit`` live inside ``bounds``?
        None = not decidable (keep)."""
        lo, hi = decode_bound(bounds[0]), decode_bound(bounds[1])
        pair_lo = _coerce(lo, lit, ts_utc_session)
        pair_hi = _coerce(hi, lit, ts_utc_session)
        if pair_lo is None or pair_hi is None:
            return None
        try:
            return pair_lo[0] <= pair_lo[1] and pair_hi[1] <= pair_hi[0]
        except TypeError:
            return None

    for col, op, lit in conjuncts:
        bounds = stats.get(col)
        if not bounds:
            continue
        if op == "in":
            # keep iff ANY member may live in the bounds; an undecidable
            # member keeps the file
            if all(_within(bounds, m) is False for m in lit):
                return False
            continue
        if op not in _PRUNABLE_OPS:
            continue
        if op in (">", ">=") and _nan_unsafe(col, bounds):
            continue  # possible NaN rows order above hi and would match
        lo, hi = decode_bound(bounds[0]), decode_bound(bounds[1])
        pair_lo = _coerce(lo, lit, ts_utc_session)
        pair_hi = _coerce(hi, lit, ts_utc_session)
        if pair_lo is None or pair_hi is None:
            continue
        lo, llit = pair_lo
        hi, hlit = pair_hi
        try:
            if op == "=" and not (lo <= llit and hlit <= hi):
                return False
            if op == "<" and not lo < llit:
                return False
            if op == "<=" and not lo <= llit:
                return False
            if op == ">" and not hi > hlit:
                return False
            if op == ">=" and not hi >= hlit:
                return False
        except TypeError:
            continue
    return True


def split_conjuncts_by_keys(
    conjuncts: "list[tuple[str, str, object]]", key_columns: "list[str]"
) -> "tuple[list, list]":
    """(key-column conjuncts, other conjuncts) — the MOR soundness split
    documented in the module docstring."""
    keys = set(key_columns)
    key_cj = [c for c in conjuncts if c[0] in keys]
    return key_cj, [c for c in conjuncts if c[0] not in keys]


def key_membership_literals(
    conjuncts: "list[tuple[str, str, object]]",
    key_columns: "list[str]",
    max_combos: int = 64,
) -> "list[dict[str, object]] | None":
    """Every candidate ``{key: literal}`` combination when EVERY key
    column is pinned by an equality OR an IN-list — the point-in-SET
    lookup shape ("fetch these 20 keys") that prunes the read to the
    union of the combos' hash buckets. None when some key is unpinned,
    a key carries conflicting pins, or the cross-product exceeds
    ``max_combos`` (a huge IN-list reads the whole table anyway — the
    planning walk must stay O(1))."""
    per_key: dict[str, set] = {}
    for col, op, lit in conjuncts:
        if col not in key_columns:
            continue
        if op == "=":
            vals = {lit}
        elif op == "in":
            vals = set(lit)
        else:
            continue  # a range pin doesn't name buckets; others may
        if col in per_key:
            per_key[col] &= vals  # two pins on one key: intersect
            if not per_key[col]:
                return None  # contradictory: post-filter yields empty
        else:
            per_key[col] = vals
    if set(per_key) != set(key_columns):
        return None
    total = 1
    for vals in per_key.values():
        total *= len(vals)
        if total > max_combos:
            return None
    combos: list[dict[str, object]] = [{}]
    for col in key_columns:
        combos = [
            {**c, col: v} for c in combos for v in sorted(per_key[col], key=repr)
        ]
    return combos
