"""spark-submit entry point for the CDC ingest job (north_rule: "the job
ships via spark-submit --py-files").

Cluster usage::

    python -m sap_spark.cli package --out /tmp/sap_spark.zip
    spark-submit --master <cluster> --py-files /tmp/sap_spark.zip \
        jobs/cdc_ingest.py --log s3://bucket/changelog \
        --table s3://bucket/warehouse/repos --checkpoint s3://bucket/ckpt

(``jobs/cdc_ingest.py`` simply calls :func:`main`; running
``python -m sap_spark.cli ingest ...`` locally is equivalent.)

The job is fully resumable: re-running with the same --checkpoint resumes
from the last committed delta token, and replayed epochs are no-ops via the
LakeTable batch-id commit markers (exactly-once).

Design notes for cluster scale:

- the master is never set here — ``spark-submit --master`` / cluster
  configuration wins (``tuned_builder(master=None)``);
- ``--shuffle-partitions`` should be sized to ~2-3x total executor cores;
- ``--buckets`` is a property of the *table layout* (co-located merges),
  not of the compute size: pick it for target file sizes (~payload GB /
  256 MB), independent of the executor count.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import zipfile

from pyspark.sql import types as T


def package_pyfiles(out_zip: str) -> str:
    """Zip the sap_spark package for ``spark-submit --py-files``."""
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    with zipfile.ZipFile(out_zip, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, parent))
    return out_zip


def _default_schema() -> T.StructType:
    """The BASELINE.json input_hint target schema."""
    return T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("commit", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("content", T.StringType(), True),
        ]
    )


@contextlib.contextmanager
def _session(args, spark, app_name: str, needed: bool = True):
    """The command's SparkSession: ``spark`` when the caller passed one
    (or ``needed`` is false — then ``spark`` may be None), else the
    engine's tuned session from ``--master``/``--shuffle-partitions``.
    getOrCreate may hand back a pre-existing session (tests, notebook
    embedding); only a session this call created is stopped, and it is
    stopped even when the command raises."""
    if spark is not None or not needed:
        yield spark
        return
    from pyspark.sql import SparkSession

    from sap_spark.config import tuned_builder

    own_session = SparkSession.getActiveSession() is None
    spark = tuned_builder(
        app_name=app_name,
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        yield spark
    finally:
        if own_session:
            spark.stop()


def run_ingest(args, spark=None) -> dict:
    """Create-if-missing the target table, replay the change log into it,
    return the lineage summary."""
    from sap_spark.config import EngineConfig
    from sap_spark.plans.lake import LakeTable
    from sap_spark.streaming.pipeline import CdcPipeline, fold_lineage

    with _session(args, spark, "sap_spark-cdc-ingest") as spark:
        keys = args.keys.split(",")
        schema = (
            T.StructType.fromDDL(args.schema) if args.schema else _default_schema()
        )
        # --buckets omitted → derive from the change-log size (upper bound on
        # the table payload) via the documented ~payload/256MB rule. Skipped
        # when the table already exists: resuming over a million-file log
        # must not pay an O(log files) stat walk for a number create()
        # would discard anyway.
        exists = os.path.exists(os.path.join(args.table, "_meta", "VERSION"))
        expected_bytes = None
        if args.buckets is None and not exists and os.path.isdir(args.log):
            expected_bytes = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(args.log)
                for f in fs
            )
        table = LakeTable.create(
            spark, args.table, schema, key_columns=keys,
            num_buckets=args.buckets, if_not_exists=True,
            expected_payload_bytes=expected_bytes,
            merge_mode=args.merge_mode or "cow",
            stats_columns=_split_cols(getattr(args, "stats_columns", None)),
            sort_columns=_split_cols(getattr(args, "sort_columns", None)),
            bloom_columns=_split_cols(getattr(args, "bloom_columns", None)),
            max_records_per_file=getattr(args, "max_records_per_file", None),
        )
        if args.merge_mode is not None and table.merge_mode != args.merge_mode:
            # an EXPLICIT --merge-mode against an existing table with a
            # different stored mode: the stored mode is a table-layout
            # property and wins — surface the mismatch instead of silently
            # ignoring the flag. (Omitting the flag on re-ingest is the
            # normal resume workflow and uses the stored mode.)
            raise SystemExit(
                f"--merge-mode {args.merge_mode} conflicts with existing table "
                f"at {args.table} (stored merge_mode={table.merge_mode}); "
                "recreate the table to change its merge mode"
            )
        if args.auto_compact_deltas is not None and table.merge_mode != "mor":
            raise SystemExit(
                "--auto-compact-deltas only applies to merge-on-read tables; "
                f"table at {args.table} is merge_mode={table.merge_mode} "
                "(pass --merge-mode mor at table creation)"
            )
        # layout knobs are mutable table properties: explicit flags against a
        # PRE-EXISTING table apply as a metadata-only alter (a fresh create
        # already carries them, so this is a no-op commit-wise there). Runs
        # AFTER every flag validation above — a rejected invocation must not
        # have already committed a property change.
        explicit = {}
        for knob in ("stats_columns", "sort_columns", "bloom_columns"):
            v = getattr(args, knob, None)
            if v is not None:
                explicit[knob] = _split_cols(v)
        if getattr(args, "max_records_per_file", None) is not None:
            explicit["max_records_per_file"] = args.max_records_per_file
        if explicit:
            table.alter_properties(**explicit)
        cfg = EngineConfig(
            key_columns=tuple(keys),
            num_buckets=table.num_buckets,
        ).validate()
        pipe = CdcPipeline(
            spark, cfg, table, args.log,
            checkpoint_dir=args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            pipeline_id=args.pipeline_id,
            dead_letter_dir=args.dead_letter_dir,
            auto_compact_delta_files=args.auto_compact_deltas,
            auto_expire_keep=args.auto_expire_keep,
            auto_expire_slack=args.auto_expire_slack,
            auto_expire_grace_seconds=args.auto_expire_grace,
        )
        pipe.run_available_now(timeout_sec=args.timeout)
        fold = fold_lineage(pipe.lineage())
        return {
            "epochs_applied": fold["epochs_applied"],
            "events": fold["events"],
            "quarantined": fold["quarantined"],
            "table_version": LakeTable(spark, args.table).version,
        }


def _split_cols(v: "str | None") -> "list[str] | None":
    """Comma-separated column list from a CLI flag (None passes through)."""
    return [c.strip() for c in v.split(",") if c.strip()] if v else None


def run_maintain(args, spark=None) -> dict:
    """Table maintenance: compact (fold MOR deltas / drop tombstones) and
    expire old snapshots. The checkpoint-barrier op of the MOR loop:
    schedule it when no out-of-order events older than any tombstone can
    still arrive (below the low-watermark delta token)."""
    from sap_spark.plans.lake import LakeTable

    with _session(args, spark, "sap_spark-maintain") as spark:
        table = LakeTable(spark, args.table)
        summary: dict = {"table_version_before": table.version}
        zorder = getattr(args, "zorder", None)
        zcols = _split_cols(zorder)
        rebucket_to = getattr(args, "rebucket", None)
        if zcols and not (args.compact or rebucket_to is not None):
            # silently ignoring a clustering request would leave the
            # operator believing the table was rewritten
            raise SystemExit("--zorder requires --compact or --rebucket")
        if rebucket_to is not None:
            if str(rebucket_to) == "auto":
                # re-derive from what the table holds NOW (the same
                # ~payload/256MB rule create uses for the change log): the
                # count chosen at creation was sized for day-one data
                from sap_spark.plans import lake

                # the data scan and file identity expiry and doctor use
                on_disk = lake.scan_data_files(table.path)
                keys = [
                    lake.data_file_key(e["path"])
                    for _, es in table.bucket_entries()
                    for e in es
                ]
                missing = sum(k not in on_disk for k in keys)
                payload = sum(os.path.getsize(on_disk[k]) for k in keys if k in on_disk)
                if missing:
                    # a referenced file absent from the scan is real
                    # corruption (doctor's data_files check fails too) — an
                    # auto count derived from partial payload would silently
                    # undersize the reshard; make the operator run doctor
                    raise SystemExit(
                        f"--rebucket auto: {missing} referenced data files "
                        "are missing — run `cli doctor` and repair before "
                        "resharding (a payload sum over the survivors would "
                        "undersize the new bucket count)"
                    )
                rebucket_to = lake.derive_num_buckets(payload)
                summary["rebucket_auto_payload_bytes"] = payload
                if rebucket_to == table.num_buckets:
                    summary["rebucketed_to"] = rebucket_to
                    summary["rebucket_noop"] = True
                    rebucket_to = None  # already right-sized: skip the rewrite
                    if zcols and not args.compact:
                        # the clustering request must still be honored: a
                        # right-sized table gets the plain zordered rewrite
                        table.compact(only_dirty=False, zorder=zcols)
                        summary["compacted"] = True
                        summary["zorder"] = zcols
            if rebucket_to is not None:
                try:
                    target = int(rebucket_to)
                except ValueError:
                    raise SystemExit(
                        f"--rebucket must be an integer or 'auto', got {rebucket_to!r}"
                    )
                table.rebucket(target, zorder=zcols)
                summary["rebucketed_to"] = target
                if zcols:
                    summary["zorder"] = zcols
        if args.compact:
            # After a reshard the table is fully folded and clustered, so
            # only the tombstone purge remains (--compact's documented
            # checkpoint-barrier op): restrict to dirty buckets and keep
            # the SAME clustering so the purge rewrite doesn't revert them
            # to linear order. Without a reshard, a clustering rewrite
            # must cover the whole table or cold buckets stay linear.
            only_dirty = True if rebucket_to is not None else not zcols
            table.compact(only_dirty=only_dirty, zorder=zcols)
            summary["compacted"] = True
            if zcols:
                summary["zorder"] = zcols
        if args.expire_keep is not None:
            summary["files_removed"] = table.expire_snapshots(
                keep_last=args.expire_keep,
                grace_seconds=float(getattr(args, "expire_grace", 0.0) or 0.0),
            )
        summary["table_version"] = table.version
        summary["rows"] = LakeTable(spark, args.table).read().count()
        return summary


def run_bootstrap(args, spark=None) -> dict:
    """Snapshot-diff bootstrap: derive the I/U/D change log that turns
    the --old table image into --new, written in the change-event layout
    `ingest` consumes (delta_token-partitioned parquet with op/event_seq/
    delta_token/rocancel envelope). The on-ramp for sources that can only
    be polled: poll → diff → same pipeline as a real change log."""
    from sap_spark.operators.snapshot import snapshot_diff
    from sap_spark.sources.datagen import write_change_log

    import pyspark.sql.functions as F

    with _session(args, spark, "sap_spark-bootstrap") as spark:
        keys = args.keys.split(",")
        old = spark.read.parquet(args.old)
        new = spark.read.parquet(args.new)
        diff = snapshot_diff(old, new, keys)
        # constant event_seq per bootstrap token: the diff is ≤1 row/key by
        # construction, so no LWW ordering is needed within it, and later
        # tokens use higher bases — no global window, scale-safe
        events = (
            diff.withColumn("delta_token", F.lit(args.token))
            .withColumn("event_seq", F.lit(int(args.seq_base)))
            .withColumn("rocancel", F.lit(False))
            .withColumn("cancel_seq", F.lit(None).cast("long"))
        )
        # reuse the canonical log writer: token-aligned layout plus the 8 MB
        # parquet row groups that keep a one-file token splittable into many
        # scan tasks — a bootstrap diff is the largest token a log ever gets
        write_change_log(events, args.out, mode="append")
        by_op = {
            r["op"]: r["n"]
            for r in spark.read.parquet(args.out)
            .where(F.col("delta_token") == args.token)
            .groupBy("op").agg(F.count("*").alias("n")).collect()
        }
        return {"token": args.token, "events": sum(by_op.values()), "by_op": by_op}


def run_status(args, spark=None) -> dict:
    """Operator console: table + lineage state from driver-side metadata
    alone — manifest history (with compaction op annotations), MOR
    delta-file pressure, and per-pipeline lineage rollups including the
    per-partition bucket high-water marks. No Spark session is started
    unless ``--count`` asks for a live row count, so it is safe to run
    against a table a pipeline is actively writing."""
    from sap_spark.plans.lake import LakeTable

    # metadata-only access: LakeTable touches its SparkSession solely on
    # read/merge paths, none of which status uses (unless --count)
    table = LakeTable(spark, args.table)
    hist = table.history()
    deltas = table.delta_file_counts()
    out: dict = {
        "table_version": table.version,
        # committed_at() falls back to manifest mtime for pre-stamp
        # manifests, so legacy tables report a time instead of null
        "last_commit_at": table.committed_at(),
        "merge_mode": table.merge_mode,
        "num_buckets": table.num_buckets,
        "key_columns": table.key_columns,
        "schema_id": table.manifest["current_schema_id"],
        "n_versions": len(hist),
        "n_compaction_commits": sum(
            1 for h in hist if (h.get("op") or {}).get("type") == "compact"
        ),
        "delta_files": {
            "buckets": len(deltas),
            "max_per_bucket": max(deltas.values(), default=0),
            "total": sum(deltas.values()),
        },
    }
    # data-skipping coverage: how much of the table the manifest bounds
    # can prune over (files from before the stats feature carry none)
    all_entries = [e for _, es in table.bucket_entries() for e in es]
    out["file_stats"] = {
        "files": len(all_entries),
        "with_bounds": sum(1 for e in all_entries if e.get("stats")),
        "columns": table.stats_columns,
        "sort_columns": table.sort_columns,
        "bloom_columns": table.bloom_columns,
        "max_records_per_file": table.max_records_per_file,
        # the last PHYSICAL rewrite (compact/rebucket, with its zorder
        # if any) — what clustering the rewritten base files actually
        # carry; a plain compact counts (it re-lays files out linearly)
        # while a metadata-only alter does not (it touches no file)
        "last_layout_op": next(
            (
                h["op"]
                for h in hist
                if (h.get("op") or {}).get("type") in ("compact", "rebucket")
            ),
            None,
        ),
        # the last metadata-only property change, reported separately
        "last_alter_op": next(
            (
                h["op"]
                for h in hist
                if (h.get("op") or {}).get("type") == "alter"
            ),
            None,
        ),
    }
    from sap_spark.streaming.pipeline import (
        fold_lineage,
        read_lineage_file,
        table_lineage_path,
    )

    # tolerant reader + the same fold the pipeline itself uses — status
    # must agree with `cli ingest` summaries and bucket_high_water()
    # (int bucket keys included), and must survive a torn in-flight
    # append from a live writer
    by_pid: dict = {}
    for r in read_lineage_file(table_lineage_path(args.table)):
        pid = r.get("pipeline_id")
        if args.pipeline_id and pid != args.pipeline_id:
            continue
        by_pid.setdefault(pid, []).append(r)
    out["pipelines"] = {pid: fold_lineage(rs) for pid, rs in by_pid.items()}
    if args.count:
        with _session(args, spark, "sap_spark-status") as spark:
            out["rows"] = LakeTable(spark, args.table).read().count()
    return out


def run_doctor(args, spark=None) -> dict:
    """Read-only integrity audit (plans/doctor.check_table): manifest
    chain, schema/bucket map, referenced files, stats/bloom soundness,
    batch-ledger uniqueness, orphan census. The default audit is a
    driver-side metadata walk (no Spark session, safe next to a live
    pipeline); ``--deep`` adds the two distributed verification jobs
    (footer row counts + key-column bucket re-hash)."""
    from sap_spark.plans.doctor import check_table, table_fingerprint

    fingerprint = getattr(args, "fingerprint", False)
    with _session(
        args, spark, "sap_spark-doctor", needed=args.deep or fingerprint
    ) as spark:
        report = check_table(
            args.table, spark=spark, version=args.version, deep=args.deep
        )
        if fingerprint:
            cols = getattr(args, "fingerprint_columns", None)
            report["fingerprint"] = table_fingerprint(
                spark,
                args.table,
                columns=cols.split(",") if cols else None,
                version=args.version,
            )
        return report


def run_changes(args, spark=None) -> dict:
    """Change-feed read-out: the net I/U/D rows between two table
    versions (LakeTable.changes_between), counted and optionally
    written as parquet. Steady-state merge-on-read ranges take the
    incremental added-files path automatically; ``--incremental`` pins
    it (failing loudly if a rewrite/compaction is in the range),
    ``--snapshot`` forces the full snapshot diff."""
    from sap_spark.plans.lake import LakeTable

    with _session(args, spark, "sap_spark-changes") as spark:
        table = LakeTable(spark, args.table)
        incremental = True if args.incremental else (False if args.snapshot else None)
        to_version = args.to_version if args.to_version is not None else table.version
        feed = table.changes_between(
            args.from_version, to_version, incremental=incremental
        )
        summary = {
            "from_version": args.from_version,
            "to_version": to_version,
            "path": args.out,
        }
        if args.out:
            feed.write.mode("overwrite").parquet(args.out)
            summary["rows"] = spark.read.parquet(args.out).count()
        else:
            summary["rows"] = feed.count()
        return summary


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="sap_spark.cli")
    sub = ap.add_subparsers(dest="cmd", required=True)
    # session flags shared by every subcommand that may start Spark
    session = argparse.ArgumentParser(add_help=False)
    session.add_argument("--master", default=None,
                         help="only for local runs; leave unset under spark-submit")
    session.add_argument("--shuffle-partitions", type=int, default=None)

    p = sub.add_parser("package", help="zip sap_spark for --py-files")
    p.add_argument("--out", default="sap_spark.zip")

    m = sub.add_parser("maintain", parents=[session],
                       help="compact MOR deltas / tombstones, expire snapshots")
    m.add_argument("--table", required=True)
    m.add_argument("--compact", action="store_true")
    m.add_argument("--expire-keep", type=int, default=None,
                   help="keep only the newest N snapshots, delete orphaned files")
    m.add_argument("--expire-grace", type=float, default=0.0,
                   help="spare unreferenced files younger than this many "
                        "seconds (an in-flight writer's spill looks like an "
                        "orphan until its manifest commits; set well above "
                        "the longest write when a pipeline is live)")
    m.add_argument("--zorder", default=None,
                   help="with --compact or --rebucket: cluster the "
                        "rewrite by the interleaved quantile ranks of "
                        "these comma-separated columns (OPTIMIZE ZORDER "
                        "BY analog) — makes the manifest bounds skip "
                        "files on any of them; add them to stats_columns")
    m.add_argument("--rebucket", default=None,
                   help="reshard the table to this hash-bucket count, or "
                        "'auto' to re-derive it from the table's current "
                        "payload (~bytes/256MB, the creation sizing rule; "
                        "no-op when already right-sized). One atomic full "
                        "rewrite; folds MOR deltas, keeps tombstones — safe "
                        "at any epoch boundary, but single-writer: stop or "
                        "pause ingest first")

    b = sub.add_parser("bootstrap", parents=[session],
                       help="diff two table snapshots into a change log")
    b.add_argument("--old", required=True, help="parquet dir of the previous image")
    b.add_argument("--new", required=True, help="parquet dir of the current image")
    b.add_argument("--out", required=True, help="change-log dir to append to")
    b.add_argument("--keys", default="repo,path")
    b.add_argument("--token", required=True, help="delta token for this diff")
    b.add_argument("--seq-base", default=0, help="event_seq for this token "
                   "(use a higher base per successive token)")

    st = sub.add_parser(
        "status",
        parents=[session],
        help="table + lineage state (driver-side metadata only; add "
             "--count for a live row count)",
    )
    st.add_argument("--table", required=True)
    st.add_argument("--pipeline-id", default=None,
                    help="restrict the lineage rollup to one pipeline")
    st.add_argument("--count", action="store_true",
                    help="also count live rows (starts a Spark session)")

    dr = sub.add_parser(
        "doctor",
        parents=[session],
        help="read-only integrity audit: manifest chain, bucket map, "
             "referenced files, stats/bloom soundness, batch ledger "
             "(driver-side metadata only; --deep adds distributed "
             "footer + bucket-assignment verification)",
    )
    dr.add_argument("--table", required=True)
    dr.add_argument("--version", type=int, default=None,
                    help="audit this snapshot (default: current)")
    dr.add_argument("--deep", action="store_true",
                    help="also run the two distributed verify jobs "
                         "(starts a Spark session)")
    dr.add_argument("--fingerprint", action="store_true",
                    help="also compute the orderless live-row fingerprint "
                         "(one scan, O(1) driver bytes) — equal across "
                         "layouts/merge modes iff the row multisets agree; "
                         "the distributed replay-parity check")
    dr.add_argument("--fingerprint-columns", default=None,
                    help="comma-separated column subset to fingerprint "
                         "(default: full public schema)")

    ch = sub.add_parser(
        "changes",
        parents=[session],
        help="net I/U/D feed between two table versions "
             "(incremental on pure MOR-append ranges)",
    )
    ch.add_argument("--table", required=True)
    ch.add_argument("--from-version", type=int, required=True)
    ch.add_argument("--to-version", type=int, default=None,
                    help="default: current version")
    ch.add_argument("--out", default=None,
                    help="parquet dir for the feed (default: count only)")
    mode = ch.add_mutually_exclusive_group()
    mode.add_argument("--incremental", action="store_true",
                      help="require the added-delta-files fast path; "
                           "fails if the range saw a rewrite/compaction")
    mode.add_argument("--snapshot", action="store_true",
                      help="force the full snapshot diff")

    i = sub.add_parser("ingest", parents=[session],
                       help="replay a change log into a LakeTable")
    i.add_argument("--log", required=True, help="change-log directory (parquet, delta_token-partitioned)")
    i.add_argument("--table", required=True, help="LakeTable directory")
    i.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    i.add_argument("--keys", default="repo,path", help="comma-separated primary key")
    i.add_argument("--schema", default=None, help="target DDL (default: input_hint repos schema)")
    i.add_argument("--buckets", type=int, default=None,
                   help="table hash buckets; omit to derive from log size "
                        "(~payload/256MB, min 8)")
    i.add_argument("--merge-mode", default=None, choices=["cow", "mor"],
                   help="cow (default for new tables): rewrite touched "
                        "buckets per merge (read-optimal); mor: append "
                        "delta files, fold at read (write cost O(batch), "
                        "compact() to fold back). Omitted on an existing "
                        "table: its stored mode is used")
    i.add_argument("--stats-columns", default=None,
                   help="comma-separated columns whose per-file [min,max] "
                        "bounds drive file skipping (creation default: keys "
                        "+ _event_seq; on an existing table an explicit flag "
                        "applies as a metadata-only alter)")
    i.add_argument("--sort-columns", default=None,
                   help="write-order clustering columns (alters an existing "
                        "table's property; affects future writes)")
    i.add_argument("--bloom-columns", default=None,
                   help="columns carrying per-file blooms for equality "
                        "skipping, e.g. commit (alters an existing table's "
                        "property; affects future writes)")
    i.add_argument("--max-records-per-file", type=int, default=None,
                   help="bound every written file (alters an existing "
                        "table's property; affects future writes)")
    i.add_argument("--max-files-per-trigger", type=int, default=None)
    i.add_argument("--pipeline-id", default=None)
    i.add_argument("--dead-letter-dir", default=None,
                   help="opt-in quarantine sink for malformed events "
                        "(null key/seq/token, op outside I/U/D); written "
                        "per-epoch with dlq_reasons, counted in lineage")
    i.add_argument("--auto-compact-deltas", type=int, default=None,
                   help="merge-on-read only: fold a bucket's delta files "
                        "into its base once they reach this count "
                        "(tombstones retained — safe mid-stream); bounds "
                        "read amplification on long replays")
    i.add_argument("--auto-expire-keep", type=int, default=None,
                   help="opt-in in-stream snapshot expiry: keep this many "
                        "snapshots, expiring once the on-disk manifest "
                        "count exceeds keep+slack — bounds metadata growth "
                        "on long streams (time travel limited to the "
                        "retained window)")
    i.add_argument("--auto-expire-slack", type=int, default=16,
                   help="manifests allowed beyond --auto-expire-keep "
                        "before expiry runs (amortizes its cost)")
    i.add_argument("--auto-expire-grace", type=float, default=3600.0,
                   help="spare unreferenced files younger than this many "
                        "seconds (protects a concurrent writer's "
                        "in-flight commit)")
    i.add_argument("--timeout", type=float, default=None)

    args = ap.parse_args(argv)
    if args.cmd == "package":
        print(package_pyfiles(args.out))
        return
    commands = {
        "maintain": run_maintain,
        "bootstrap": run_bootstrap,
        "status": run_status,
        "doctor": run_doctor,
        "changes": run_changes,
        "ingest": run_ingest,
    }
    out = commands[args.cmd](args)
    print(json.dumps(out))
    if args.cmd == "doctor" and not out["ok"]:
        raise SystemExit(1)

if __name__ == "__main__":
    main(sys.argv[1:])
