"""Read-only integrity audit (fsck) for LakeTable directories.

`check_table` verifies every durable invariant the lake format's commit
machinery maintains — manifest-chain integrity, strict-JSON manifests,
schema/bucket-map consistency, referenced-file existence, stats and bloom
soundness, batch-ledger uniqueness — without writing a byte. It is the
pre-flight an operator runs before trusting a restored/copied table, after
a crash, or before an expiry on a table of unknown provenance.

Scale shape: the default audit is a DRIVER-SIDE METADATA walk — O(retained
manifests + file entries), two `glob`s over the data directory, zero Spark
jobs — safe to run against a table a pipeline is actively writing (same
contract as `cli status`). ``deep=True`` adds two DISTRIBUTED, column-pruned
verification jobs over the current snapshot's files: (1) a footer pass
(`mapInPandas` over the file list; each task opens only parquet FOOTERS)
checking physical row counts against the manifest's recorded counts, and
(2) a key-column scan re-deriving every row's hash bucket and comparing it
to the bucket the manifest filed the row under — reading ONLY the key
columns, so at 100 TB the deep audit costs a key-column scan, never a full
table read.

Report shape::

    {"path": ..., "version": N, "ok": bool,
     "checks": [{"name", "level": "error"|"warn"|"info", "ok", "detail",
                 "problems": [...capped...]}, ...]}

``ok`` is False only when an *error*-level check fails; warnings (legacy
NaN-token manifests that the next commit scrubs, missing bloom sidecars
that merely disable skipping, a stale advisory VERSION cache) degrade
gracefully in the read path and are reported without failing the audit.

Reference semantics anchor: the reference plugin's design-time validation
probe (SapODataSource.java:66-74, 91-99 — "can I reach the service / does
the entity set exist", failures into a FailureCollector) generalized to the
lake-format invariants the CDC engine's exactly-once story rests on.
"""

from __future__ import annotations

import base64
import json
import math
import os

from sap_spark.plans.lake import (
    LakeTable,
    data_file_key,
    scan_data_files,
    sidecar_debris,
)

MAX_PROBLEMS = 20  # per check, keeps reports readable on badly broken tables


def _cap(problems: list) -> list:
    if len(problems) > MAX_PROBLEMS:
        return problems[:MAX_PROBLEMS] + [f"... {len(problems) - MAX_PROBLEMS} more"]
    return problems


def _check(name: str, level: str, problems: list, detail: str = "") -> dict:
    return {
        "name": name,
        "level": level,
        "ok": not problems,
        "detail": detail,
        "problems": _cap([str(p) for p in problems]),
    }


def _strict_parse_constant(token: str):
    raise ValueError(f"non-RFC-8259 token {token!r}")


def check_table(
    path: str,
    spark=None,
    version: "int | None" = None,
    deep: bool = False,
) -> dict:
    """Audit one LakeTable; see module docstring. ``spark`` is required
    only for ``deep=True``."""
    if deep and spark is None:
        raise ValueError("deep=True needs a SparkSession (footer/bucket jobs)")

    table = LakeTable(spark, path, version=version)
    checks: list[dict] = []

    # -- 1. manifest chain: every parent resolves, versions strictly
    #       descend, the walk ends at a trimmed (None) parent ------------
    chain_problems: list = []
    manifests: list[dict] = []
    strict_problems: list = []
    v: "int | None" = table.version
    seen: set = set()
    while v is not None:
        if v in seen:
            chain_problems.append(f"parent cycle at v{v}")
            break
        seen.add(v)
        mpath = table._manifest_path(v)
        if not os.path.exists(mpath):
            chain_problems.append(
                f"chain dangles: v{v} referenced as a parent but its "
                "manifest file is missing"
            )
            break
        try:
            m = table._load_manifest(v)
        except Exception as exc:  # noqa: BLE001
            chain_problems.append(f"v{v} unparseable: {exc}")
            break
        if m.get("version") != v:
            chain_problems.append(
                f"v{v} manifest says version={m.get('version')}"
            )
        manifests.append(m)
        # strict re-parse: bare NaN/Infinity tokens are legacy pre-fix
        # bounds — the loader scrubs them and the next commit heals the
        # chain, so this is warn-level
        try:
            with open(mpath) as f:
                json.load(f, parse_constant=_strict_parse_constant)
        except ValueError:
            strict_problems.append(
                f"v{v} carries non-finite stat bounds (pre-NaN-fix writer); "
                "self-heals on the next commit"
            )
        parent = m.get("parent")
        if parent is not None and parent >= v:
            chain_problems.append(f"v{v} parent {parent} not older")
            break
        v = parent
    checks.append(
        _check(
            "manifest_chain",
            "error",
            chain_problems,
            f"{len(manifests)} retained versions, newest v{table.version}",
        )
    )
    checks.append(_check("manifest_strict_json", "warn", strict_problems))

    # -- 2. advisory VERSION cache (never the source of truth) -----------
    vcache_problems: list = []
    vdetail = ""
    try:
        with open(table._version_file()) as f:
            cached = int(f.read().strip())
        vdetail = f"VERSION={cached}, current=v{table._current_version()}"
        if cached != table._current_version():
            vcache_problems.append(
                f"advisory VERSION cache says {cached} (stale after a "
                "crash between link and cache refresh; harmless)"
            )
    except Exception as exc:  # noqa: BLE001
        vcache_problems.append(f"VERSION cache unreadable: {exc}")
    checks.append(_check("version_cache", "warn", vcache_problems, vdetail))

    # -- 3. schema + key columns -----------------------------------------
    schema_problems: list = []
    try:
        schema = table.schema
        names = set(schema.fieldNames())
        for k in table.key_columns:
            if k not in names:
                schema_problems.append(f"key column {k!r} missing from schema")
        for internal in ("_event_seq", "_deleted"):
            if internal in names:
                schema_problems.append(
                    f"internal column {internal!r} leaked into the public schema"
                )
    except Exception as exc:  # noqa: BLE001
        schema_problems.append(f"current schema unparseable: {exc}")
    n_schemas = len(table.manifest.get("schemas", []))
    csid = table.manifest.get("current_schema_id")
    if not isinstance(csid, int) or not (0 <= csid < n_schemas):
        schema_problems.append(f"current_schema_id {csid} out of range [0,{n_schemas})")
    checks.append(
        _check("schema", "error", schema_problems, f"{n_schemas} schema versions")
    )

    # -- 4. bucket map ------------------------------------------------------
    bucket_problems: list = []
    entries_all: list[tuple[int, dict]] = []
    seen_files: dict[tuple, int] = {}
    num_buckets = table.num_buckets
    bucket_map = dict(table.bucket_entries())
    for bstr, entries in bucket_map.items():
        try:
            b = int(bstr)
        except ValueError:
            bucket_problems.append(f"non-integer bucket id {bstr!r}")
            continue
        if not (0 <= b < num_buckets):
            bucket_problems.append(f"bucket {b} out of range [0,{num_buckets})")
        for e in entries:
            entries_all.append((b, e))
            sid = e.get("schema_id")
            if not isinstance(sid, int) or not (0 <= sid < n_schemas):
                bucket_problems.append(
                    f"bucket {b}: {os.path.basename(e.get('path', '?'))} has "
                    f"schema_id {sid} out of range"
                )
            fk = data_file_key(e.get("path", ""))
            if fk in seen_files and seen_files[fk] != b:
                bucket_problems.append(
                    f"file {'/'.join(fk)} referenced by buckets "
                    f"{seen_files[fk]} and {b}"
                )
            seen_files[fk] = b
        if table.merge_mode == "cow" and any(
            e.get("kind") == "delta" for e in entries
        ):
            bucket_problems.append(
                f"bucket {b} carries MOR delta entries on a COW table"
            )
    checks.append(
        _check(
            "bucket_map",
            "error",
            bucket_problems,
            f"{len(entries_all)} file entries across "
            f"{len(bucket_map)}/{num_buckets} buckets",
        )
    )

    # -- 5. referenced data files exist (by table-internal identity, the
    #       same spelling-independent comparison expire_snapshots uses) --
    scanned = scan_data_files(path)
    missing = [
        "/".join(data_file_key(e.get("path", "")))
        for _, e in entries_all
        if data_file_key(e.get("path", "")) not in scanned
    ]
    checks.append(
        _check(
            "data_files",
            "error",
            missing,
            f"{len(entries_all)} referenced, {len(scanned)} on disk",
        )
    )

    # -- 6. stats soundness ------------------------------------------------
    from sap_spark.plans.stats import decode_bound

    stats_problems: list = []
    for b, e in entries_all:
        name = os.path.basename(e.get("path", "?"))
        for col, bounds in (e.get("stats") or {}).items():
            if not (isinstance(bounds, list) and len(bounds) == 2):
                stats_problems.append(f"{name}: malformed bounds for {col!r}")
                continue
            if any(
                isinstance(raw, float) and not math.isfinite(raw) for raw in bounds
            ):
                # decode_bound already ignores these; flagged by the
                # strict-JSON check above as legacy — count here too so a
                # single-file anomaly is attributable
                stats_problems.append(f"{name}: non-finite bound on {col!r}")
                continue
            lo, hi = decode_bound(bounds[0]), decode_bound(bounds[1])
            if lo is not None and hi is not None and type(lo) is type(hi):
                try:
                    if lo > hi:
                        stats_problems.append(f"{name}: min>max on {col!r}")
                except TypeError:
                    pass
        rows = (e.get("nulls") or {}).get("rows")
        for col, n in ((e.get("nulls") or {}).get("counts") or {}).items():
            if not isinstance(n, int) or n < 0 or (rows is not None and n > rows):
                stats_problems.append(
                    f"{name}: null count {n} invalid for {col!r} (rows={rows})"
                )
        for col, n in (e.get("nan") or {}).items():
            if not isinstance(n, int) or n < 0 or (rows is not None and n > rows):
                stats_problems.append(
                    f"{name}: NaN count {n} invalid for {col!r} (rows={rows})"
                )
    checks.append(_check("file_stats", "error", stats_problems))

    # -- 7. bloom layers: sidecars present + parseable, inline bitmaps
    #       decode. Absence only disables skipping (read path keeps the
    #       file), so warn-level ---------------------------------------
    bloom_problems: list = []
    for b, e in entries_all:
        name = os.path.basename(e.get("path", "?"))
        ref_cols = e.get("bloom_ref") or []
        if ref_cols:
            actual = scanned.get(data_file_key(e.get("path", "")), e.get("path", ""))
            sidecar = actual + ".bloom"
            try:
                with open(sidecar) as f:
                    blooms = json.load(f)
                absent = [c for c in ref_cols if c not in blooms]
                if absent:
                    bloom_problems.append(
                        f"{name}: sidecar lacks referenced columns {absent}"
                    )
            except FileNotFoundError:
                bloom_problems.append(f"{name}: bloom sidecar missing")
            except Exception as exc:  # noqa: BLE001
                bloom_problems.append(f"{name}: bloom sidecar unreadable: {exc}")
        for col, blob in (e.get("bloom") or {}).items():
            try:
                base64.b64decode(blob["b"])
            except Exception:  # noqa: BLE001
                bloom_problems.append(f"{name}: inline bloom for {col!r} corrupt")
    checks.append(_check("bloom_layers", "warn", bloom_problems))

    # -- 8. committed-batch ledger: ids unique (a duplicate would mean two
    #       DISTINCT commits claimed the same (pipeline, epoch) — the
    #       exactly-once marker can no longer be trusted) ----------------
    from collections import Counter

    commits = table.manifest.get("commits", [])
    # Counter, not commits.count-per-element: the ledger grows one marker
    # per epoch, and the audit must stay O(markers) at 10^5+ epochs
    dupes = sorted(c for c, n in Counter(commits).items() if n > 1)
    checks.append(
        _check("batch_ledger", "error", dupes, f"{len(commits)} batch markers")
    )

    # -- 9. orphans (informational): on-disk files no retained manifest
    #       references — expected debris after crashes, reclaimed by
    #       expire_snapshots --------------------------------------------
    referenced_any = {
        data_file_key(e["path"])
        for m in manifests
        for _, entries in table.bucket_entries(manifest=m)
        for e in entries
    }
    orphans = [f for fk, f in scanned.items() if fk not in referenced_any]
    debris = sidecar_debris(path, scanned.values())
    orphan_bytes = 0
    for f in orphans + debris:
        try:
            orphan_bytes += os.path.getsize(f)
        except OSError:
            pass
    checks.append(
        {
            "name": "orphans",
            "level": "info",
            "ok": True,
            "detail": (
                f"{len(orphans)} unreferenced files and {len(debris)} bloom "
                f"sidecars without a data file ({orphan_bytes} bytes) — "
                "crashed-attempt debris; `cli maintain --expire-keep` reclaims"
            ),
            "problems": [],
        }
    )

    if deep:
        checks.extend(_deep_checks(spark, table, entries_all, scanned))

    return {
        "path": path,
        "version": table.version,
        "ok": all(c["ok"] for c in checks if c["level"] == "error"),
        "checks": checks,
    }


def table_fingerprint(
    spark,
    path_or_table,
    columns: "list[str] | None" = None,
    version: "int | None" = None,
) -> dict:
    """Orderless, layout-independent fingerprint of a table's LIVE rows —
    the distributed form of the north-star parity check ("final table
    state matches row-for-row under the content-sha256 invariant",
    BASELINE.json metric) that works at 10^10 rows: one column-pruned
    scan, O(1) bytes back to the driver, no collect, no sort.

    Two tables fingerprint equal iff their live-row multisets agree on
    ``columns`` (default: the full public schema) — regardless of bucket
    count, merge mode (COW vs MOR), compaction state, file layout, or row
    order. Construction: each row is canonicalized to JSON with fields in
    sorted column order (`to_json` — deterministic escaping; null fields
    are omitted, which is canonical within one schema), sha256-hashed,
    and two independent 64-bit halves of the digest are SUMMED as
    decimal(38,0) (sum is commutative ⇒ order-free, and unlike XOR it is
    duplicate-sensitive). The fingerprint is the sha256 of
    ``rows:sum1:sum2``, so a single changed/missing/extra row flips it.

    Uses: replay parity between an engine table and an independently
    built reference table; N vs 4N scale-out runs producing identical
    state; pre/post rebucket-compact-expire invariance.
    """
    import hashlib

    from pyspark.sql import functions as F

    table = (
        path_or_table
        if isinstance(path_or_table, LakeTable)
        else LakeTable(spark, path_or_table, version=version)
    )
    cols = columns or table.schema.fieldNames()
    unknown = [c for c in cols if c not in table.schema.fieldNames()]
    if unknown:
        raise ValueError(f"fingerprint columns not in schema: {unknown}")
    digest = F.sha2(
        F.to_json(F.struct(*[F.col(c) for c in sorted(cols)])), 256
    )
    # two independent 60-bit halves of the digest, summed exactly:
    # 10^10 rows * 2^60 ≈ 10^28 fits decimal(38,0) with headroom
    half = lambda off: F.conv(F.substring(digest, off, 15), 16, 10).cast(  # noqa: E731
        "decimal(38,0)"
    )
    agg = (
        table.read()
        .select(half(1).alias("h1"), half(20).alias("h2"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("h1").alias("s1"),
            F.sum("h2").alias("s2"),
        )
        .collect()[0]
    )
    material = f"{agg['rows']}:{agg['s1']}:{agg['s2']}"
    return {
        "version": table.version,
        "rows": agg["rows"],
        "columns": sorted(cols),
        "fingerprint": hashlib.sha256(material.encode()).hexdigest(),
    }


def _deep_checks(spark, table, entries_all, scanned) -> list[dict]:
    """Two distributed verification jobs over the current snapshot.

    Footer pass: `mapInPandas` over the (path, expected rows) list — each
    task opens only parquet footers, so the job moves metadata, not data.
    Bucket pass: one column-pruned scan of ONLY the key columns,
    re-deriving each row's bucket (`table.bucket_column`) and comparing
    per-file against the bucket the manifest filed the file under.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # resolve each entry to its on-disk spelling (existence already checked)
    rows = []
    for b, e in entries_all:
        actual = scanned.get(data_file_key(e.get("path", "")))
        if actual is None:
            continue  # data_files check already reported it
        rows.append(
            (actual, b, (e.get("nulls") or {}).get("rows"))
        )
    checks: list[dict] = []
    if not rows:
        return [
            _check("deep_footers", "error", [], "no files to verify"),
            _check("deep_buckets", "error", [], "no files to verify"),
        ]

    file_df = spark.createDataFrame(
        rows, "path string, bucket int, expect_rows long"
    ).repartition(min(len(rows), 256))

    def footer_pass(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for path, expect in zip(pdf["path"], pdf["expect_rows"]):
                try:
                    n = pq.ParquetFile(path).metadata.num_rows
                    problem = None
                    if expect is not None and not pd.isna(expect) and n != int(expect):
                        problem = f"rows {n} != manifest {int(expect)}"
                except Exception as exc:  # noqa: BLE001
                    n, problem = -1, f"unreadable: {exc}"
                out.append((path, n, problem))
            yield pd.DataFrame(out, columns=["path", "rows", "problem"])

    footer = file_df.mapInPandas(
        footer_pass, "path string, rows long, problem string"
    ).collect()
    footer_problems = [
        f"{os.path.basename(r['path'])}: {r['problem']}"
        for r in footer
        if r["problem"] is not None
    ]
    checks.append(
        _check(
            "deep_footers",
            "error",
            footer_problems,
            f"{len(footer)} footers verified",
        )
    )

    # bucket-assignment verify: key columns only (column-pruned scan)
    keys = table.key_columns
    key_fields = [f for f in table.schema.fields if f.name in keys]
    read_schema = T.StructType(key_fields)
    paths = [r[0] for r in rows]
    expected_bucket = {r[0]: r[1] for r in rows}
    scan = spark.read.schema(read_schema).parquet(*paths)
    per_file = (
        scan.withColumn("__file", F.input_file_name())
        .withColumn("__derived", table.bucket_column(scan))
        .groupBy("__file")
        .agg(F.collect_set("__derived").alias("derived"))
        .collect()
    )
    from urllib.parse import unquote, urlparse

    bucket_problems = []
    for r in per_file:
        local = unquote(urlparse(r["__file"]).path)
        expect = expected_bucket.get(local)
        if expect is None:
            # path spelling drift between input_file_name and our list
            expect = expected_bucket.get(os.path.normpath(local))
        derived = sorted(r["derived"])
        if expect is None:
            bucket_problems.append(f"{os.path.basename(local)}: not in manifest")
        elif derived and derived != [expect]:
            bucket_problems.append(
                f"{os.path.basename(local)}: manifest bucket {expect}, "
                f"rows hash to {derived}"
            )
    checks.append(
        _check(
            "deep_buckets",
            "error",
            bucket_problems,
            f"{len(per_file)} files' rows re-hashed over keys {keys}",
        )
    )
    return checks
