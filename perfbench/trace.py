"""Spans around the engine's public calls, and the Spark event-log rollup.

A :class:`Tracer` patches the calls the benchmark's workloads reach into
each layer (``streaming``, ``operators.dedup``, ``plans.lake``,
``plans.stats``, ``sources``, ``schema``) with wrappers that record a span:
name, start and end (epoch seconds, comparable with Spark's event-log
timestamps), duration, parent span and round id. Spans stay in memory and
are written out once, at the end of the run. Nothing inside ``sap_spark``
changes: the wrappers live here and are removed by :meth:`Tracer.close`.

The engine runs ``foreachBatch`` on a py4j callback thread while the
caller blocks in ``awaitTermination``, so the span stack is shared across
threads (guarded by a lock) rather than thread-local: an epoch's spans
nest under the ``run_available_now`` span that started the query.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.round: "int | str | None" = None
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            parent = self._stack[-1]["id"] if self._stack else None
            rec = {
                "id": len(self.spans), "name": name, "parent": parent,
                "round": self.round, "start": time.time(), **attrs,
            }
            self.spans.append(rec)
            self._stack.append(rec)
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - p0
            rec["end"] = time.time()
            with self._lock:
                self._stack.remove(rec)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``after(rec, args,
        result, before)`` may annotate the span; ``before`` is what
        ``after.before(args)`` returned ahead of the call."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            before = after.before(args) if after and hasattr(after, "before") else None
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
                if after is not None:
                    after(rec, args, result, before)
            return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def close(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        """Write every span as one JSON line, with its self time."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": self.self_time(s)}, default=str) + "\n")

    # -- queries ------------------------------------------------------------

    def named(self, name: str, rounds=None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (rounds is None or s["round"] in rounds)
        ]

    def self_time(self, span: dict) -> float:
        """Duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return span["dur"] - sum(k["dur"] for k in kids)


def _manifest_files(table) -> set[str]:
    return {
        e["path"]
        for entries in table.manifest.get("buckets", {}).values()
        for e in entries
    }


class _FilesWritten:
    """Span annotation: data files a lake commit added (count and bytes)."""

    @staticmethod
    def before(args):
        return _manifest_files(args[0])

    def __call__(self, rec, args, result, before):
        table = args[0]
        new = _manifest_files(table) - before
        rec["files_written"] = len(new)
        rec["bytes_written"] = sum(
            os.path.getsize(p) for p in new if os.path.exists(p)
        )
        phases = getattr(table, "last_merge_metrics", None) or {}
        rec["buckets"] = phases.get("n_affected_buckets", 0)
        if isinstance(result, list):  # compact(): the rewritten buckets
            rec["buckets"] = len(result)


def install(tracer: Tracer) -> None:
    """Wrap the public calls into each engine layer."""
    from sap_spark.operators import dedup
    from sap_spark.plans import lake, stats
    from sap_spark.sources import odata_feed
    from sap_spark.streaming import pipeline

    files_written = _FilesWritten()
    tracer.wrap(pipeline.CdcPipeline, "run_available_now", "streaming.run_available_now")
    tracer.wrap(pipeline, "ingest_batch", "streaming.ingest_batch")
    tracer.wrap(pipeline, "read_changelog_stream", "sources.read_changelog_stream")
    tracer.wrap(odata_feed, "delta_feed_to_changelog", "sources.delta_feed_to_changelog")
    tracer.wrap(dedup, "lww_winners", "dedup.lww_winners")
    tracer.wrap(dedup, "fetch_winner_payloads", "dedup.fetch_winner_payloads")
    tracer.wrap(lake.LakeTable, "affected_bucket_offsets", "dedup.winner_scan")
    tracer.wrap(lake.LakeTable, "merge_cdc", "lake.merge_cdc", after=files_written)
    tracer.wrap(lake.LakeTable, "compact", "lake.compact", after=files_written)
    tracer.wrap(lake.LakeTable, "read", "lake.read")
    tracer.wrap(lake.LakeTable, "changes_between", "lake.changes_between")
    tracer.wrap(lake.LakeTable, "evolve_schema", "schema.evolve_schema")
    # commit metadata: footer stats everywhere, blooms where configured
    # (the bloom build runs inside stats.collect_metadata_distributed)
    tracer.wrap(lake.LakeTable, "_collect_commit_metadata", "stats.commit_metadata")
    tracer.wrap(stats, "collect_metadata_distributed", "stats.collect_metadata_distributed")


# -- Spark event log ---------------------------------------------------------


def read_event_log(evdir: str, scan_roots: list[str]) -> dict:
    """Jobs, tasks and input-scan sizes from an uncompressed, non-rolling
    Spark event log. ``scan_roots``: directories whose parquet scans count
    as source scans (the change log or staged pages)."""
    jobs: dict[int, list] = {}
    tasks: list[dict] = []
    scan_accums: set[int] = set()
    exec_time: dict[int, float] = {}
    accum_exec: dict[int, int] = {}
    accum_value: dict[int, int] = {}
    roots = [os.path.abspath(r) for r in scan_roots]

    def walk(node, exec_id):
        if node.get("nodeName", "").startswith("Scan parquet"):
            loc = (node.get("metadata") or {}).get("Location", "")
            if any(f"file:{r}/" in loc for r in roots):
                for m in node.get("metrics", []):
                    if m["name"] == "size of files read":
                        scan_accums.add(m["accumulatorId"])
                        accum_exec[m["accumulatorId"]] = exec_id
        for child in node.get("children", []):
            walk(child, exec_id)

    for path in glob.glob(os.path.join(evdir, "*")):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
                    tasks.append({
                        "stage": e.get("Stage ID"),
                        "launch": info.get("Launch Time", 0) / 1000.0,
                        "finish": info.get("Finish Time", 0) / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    })
                elif '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    jobs.setdefault(e["Job ID"], [None, None])[0] = (
                        e["Submission Time"] / 1000.0)
                elif '"SparkListenerJobEnd"' in line:
                    e = json.loads(line)
                    jobs.setdefault(e["Job ID"], [None, None])[1] = (
                        e["Completion Time"] / 1000.0)
                elif "SparkListenerSQLExecutionStart" in line:
                    e = json.loads(line)
                    exec_time[e["executionId"]] = e["time"] / 1000.0
                    walk(e.get("sparkPlanInfo") or {}, e["executionId"])
                elif "SparkListenerSQLAdaptiveExecutionUpdate" in line:
                    e = json.loads(line)
                    walk(e.get("sparkPlanInfo") or {}, e["executionId"])
                elif "SparkListenerDriverAccumUpdates" in line:
                    e = json.loads(line)
                    for acc, value in e.get("accumUpdates", []):
                        accum_value[acc] = value
    scans = [
        (exec_time.get(accum_exec[a], 0.0), accum_value.get(a, 0))
        for a in scan_accums
    ]
    return {
        "jobs": [tuple(v) for v in jobs.values() if None not in v],
        "tasks": tasks,
        "scans": scans,
    }


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer: Tracer, rounds: list[dict], evlog: dict, slots: int,
                  evdir: str) -> dict:
    """Per-layer metrics over the measured rounds (round ids 0..n-1).

    Sums are reported per round (their mean), so a metric does not depend
    on how many rounds fit in the measuring window."""
    from bench import _task_run_seconds

    ids = {r["round"] for r in rounds}
    n = max(len(rounds), 1)
    runs = tracer.named("streaming.run_available_now", ids)
    applies = tracer.named("streaming.ingest_batch", ids)
    merges = tracer.named("lake.merge_cdc", ids)
    windows = [(s["start"], s["end"]) for s in runs]

    def in_windows(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    outside = [
        s["dur"] - sum(
            c["dur"] for c in tracer.spans
            if c["parent"] == s["id"] and c["name"] == "streaming.ingest_batch"
        )
        for s in runs
    ]
    epochs = len(applies)
    jobs_in = [j for j in evlog["jobs"] if in_windows(j[0])]
    merge_s = sum(s["dur"] for s in merges)
    merge_job_s = sum(_covered(evlog["jobs"], s["start"], s["end"]) for s in merges)
    merge_job_s = min(merge_job_s, merge_s)

    log_bytes = sum(r["log_bytes"] for r in rounds)
    scan_bytes = sum(v for t, v in evlog["scans"] if in_windows(t))
    events_in = sum(r["events_in"] for r in rounds)
    winners = sum(r["winners"] for r in rounds)
    bytes_written = sum(s.get("bytes_written", 0) for s in merges)

    compactions = [s for s in tracer.named("lake.compact") if s.get("buckets")]
    reads = {
        shape: [s["dur"] for s in tracer.named(f"bench.read.{shape}")]
        for shape in ("point", "sha", "changes")
    }
    opened = sum(s["files_opened"] for s in tracer.spans if "files_opened" in s)
    total_files = sum(s["files_total"] for s in tracer.spans if "files_total" in s)

    wall = sum(b - a for a, b in windows)
    task_s = sum(_task_run_seconds(evdir, (a * 1000.0, b * 1000.0)) for a, b in windows)
    win_tasks = [t for t in evlog["tasks"] if in_windows(t["launch"])]
    by_stage: dict = {}
    for t in win_tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    biggest = max(by_stage.values(), key=sum, default=[])
    med = _median(biggest)
    bench_reads = {s["id"] for s in tracer.spans if s["name"].startswith("bench.read.")}
    read_plans = [s["dur"] for s in tracer.named("lake.read") if s["parent"] in bench_reads]

    def per_round(name: str) -> float:
        return sum(s["dur"] for s in tracer.named(name, ids)) / n

    return {
        "streaming.epochs": (epochs / n, "count"),
        "streaming.spark_jobs_per_epoch": (len(jobs_in) / max(epochs, 1), "count"),
        "streaming.apply_p50_s": (_median(s["dur"] for s in applies), "s"),
        "streaming.outside_apply_s": (_median(outside), "s"),
        "sources.log_bytes": (log_bytes / n, "bytes"),
        "sources.scan_bytes": (scan_bytes / n, "bytes"),
        "sources.scan_amp": (scan_bytes / log_bytes if log_bytes else 0.0, "ratio"),
        "dedup.events_in": (events_in / n, "count"),
        "dedup.winners": (winners / n, "count"),
        "dedup.winner_ratio": (winners / events_in if events_in else 0.0, "ratio"),
        "dedup.winner_scan_s": (per_round("dedup.winner_scan"), "s"),
        "lake.merge_s": (merge_s / n, "s"),
        "lake.merge_job_s": (merge_job_s / n, "s"),
        "lake.merge_driver_s": ((merge_s - merge_job_s) / n, "s"),
        "lake.buckets_rewritten": (sum(s.get("buckets", 0) for s in merges) / n, "count"),
        "lake.bytes_written": (bytes_written / n, "bytes"),
        "lake.files_written": (sum(s.get("files_written", 0) for s in merges) / n, "count"),
        "lake.write_amp": (bytes_written / log_bytes if log_bytes else 0.0, "ratio"),
        "lake.compact_s": (_median(s["dur"] for s in compactions), "s"),
        "lake.compactions": (len(compactions), "count"),
        "lake.delta_files_max": (max((r["delta_files_max"] for r in rounds), default=0), "count"),
        "lake.read_plan_s": (_median(read_plans), "s"),
        "lake.point_read_p50_s": (_median(reads["point"]), "s"),
        "lake.sha_read_p50_s": (_median(reads["sha"]), "s"),
        "lake.changes_read_p50_s": (_median(reads["changes"]), "s"),
        "stats.metadata_s": (per_round("stats.commit_metadata"), "s"),
        "stats.skip_ratio": (1.0 - opened / total_files if total_files else 0.0, "ratio"),
        "schema.evolve_s": (per_round("schema.evolve_schema"), "s"),
        "spark.task_cpu_s": (task_s / n, "s"),
        "spark.core_busy": (task_s / (wall * slots) if wall else 0.0, "ratio"),
        "spark.shuffle_bytes": (sum(t["shuffle_bytes"] for t in win_tasks) / n, "bytes"),
        "spark.spill_bytes": (sum(t["spill_bytes"] for t in win_tasks) / n, "bytes"),
        "spark.task_skew": (max(biggest) / med if med else 0.0, "ratio"),
    }
