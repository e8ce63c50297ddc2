"""Where a batch's discovery is cheaper: one collect folded on the driver,
or the persisted Spark jobs.

Times the two paths of ``streaming/pipeline.discover`` over the same
change-log batch:

- driver: one collect of the narrow projection (keys, seq, op, rocancel,
  cancel-seq, bucket id), folded in Arrow (``operators/dedup.
  discover_arrow``); winners and cancel set return as local relations;
- tasks: the persisted cancel set and counted winner scan plus one
  bucket-keyed agg (``table.affected_bucket_offsets``).

Each size is a datagen log (default skew, ROCANCEL and redeliveries; one
key per 8 events, 8k events per token) written as parquet and read back,
as the pipeline re-reads an epoch's files. Each size gets one untimed
warm-up of each path, then ``--reps`` timed runs in alternating order
(wall time of entering and leaving ``discover``: the tasks path's
unpersist included); the table reports medians. Both paths must return
identical offsets, winners and cancel sets, or the run fails. Per size it
also reports Catalyst's size estimate of the narrow projection (what
``DRIVER_DISCOVERY_MAX_BYTES`` is compared with), the collected Arrow
bytes, and how far the RSS of this Python process and of the JVM rose
during the first driver-path discovery of that size (sampled every 5 ms;
the JVM heap's own growth policy shows in its figure). ``--out FILE``
also writes the table as markdown.

    python tools/bench_discovery.py [--cpus 2] [--reps 5] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SIZES = [5_000, 32_000, 200_000, 1_000_000, 2_000_000]
EVENTS_PER_TOKEN = 8_000


def rss_bytes(pid: "int | str") -> "int | None":
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        return None
    return None


def rss_growth(pids: "dict[str, int | str]", fn) -> "dict[str, float | None]":
    """Run ``fn`` while sampling each process's RSS every 5 ms; return the
    growth of its peak sample over its RSS before the call, in MB."""
    base = {k: rss_bytes(p) for k, p in pids.items()}
    peak = dict(base)
    done = threading.Event()

    def sample():
        while not done.wait(0.005):
            for k, p in pids.items():
                v = rss_bytes(p)
                if v is not None and (peak[k] is None or v > peak[k]):
                    peak[k] = v

    t = threading.Thread(target=sample, daemon=True)
    t.start()
    try:
        fn()
    finally:
        done.set()
        t.join()
    return {
        k: None if base[k] is None or peak[k] is None
        else round((peak[k] - base[k]) / 1e6, 1)
        for k in pids
    }


def found_once(events, table, cfg) -> dict:
    from sap_spark.streaming.pipeline import discover

    with discover(events, table, cfg) as found:
        seq = cfg.order_column
        out = {
            "on": found.on,
            "offsets": found.offsets,
            "winners": sorted(
                map(tuple, found.winners.collect()), key=repr
            ),
            "cancelled": None if found.cancelled is None else sorted(
                r[seq] for r in found.cancelled.collect()
            ),
        }
    return out


def measure(spark, events, table, cfg, reps: int) -> dict:
    from sap_spark.streaming import pipeline

    def timed(cap: int) -> float:
        pipeline.DRIVER_DISCOVERY_MAX_BYTES = cap
        t0 = time.perf_counter()
        with pipeline.discover(events, table, cfg):
            pass
        return time.perf_counter() - t0

    caps = {"driver": 1 << 62, "tasks": 0}
    # first touch of this size: the driver path's memory, before anything
    # else (the equality sample below collects rows into this process)
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    growth = rss_growth(
        {"py": "self", **({"jvm": proc.pid} if proc is not None else {})},
        lambda: timed(caps["driver"]),
    )
    results = {}
    for name, cap in caps.items():  # warm-up; also the equality sample
        pipeline.DRIVER_DISCOVERY_MAX_BYTES = cap
        results[name] = found_once(events, table, cfg)
        if results[name]["on"] != name:
            raise AssertionError(f"forced {name} discovery ran on {results[name]['on']}")
    for field in ("offsets", "winners", "cancelled"):
        if results["driver"][field] != results["tasks"][field]:
            raise AssertionError(f"driver and tasks discovery disagree on {field}")
    times = {name: [] for name in caps}
    for i in range(reps):
        order = ["driver", "tasks"] if i % 2 == 0 else ["tasks", "driver"]
        for name in order:
            times[name].append(timed(caps[name]))
    return {
        "driver_s": round(statistics.median(times["driver"]), 3),
        "tasks_s": round(statistics.median(times["tasks"]), 3),
        "winners": len(results["driver"]["winners"]),
        "py_rss_growth_mb": growth["py"],
        "jvm_rss_growth_mb": growth.get("jvm"),
    }


def narrow_stats(events, table, cfg) -> tuple[int, int]:
    """Catalyst's estimate of the narrow projection, and its Arrow bytes."""
    from sap_spark.streaming.pipeline import _estimated_bytes

    envelope = [cfg.op_column, cfg.rocancel_column, cfg.cancel_seq_column]
    narrow = events.select(
        *cfg.key_columns, cfg.order_column, *envelope,
        table.bucket_column(events).alias("__bucket"),
    )
    return _estimated_bytes(narrow), narrow.toArrow().nbytes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=2, help="local[N] task slots")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import types as T

    from sap_spark.config import EngineConfig, get_spark
    from sap_spark.plans.lake import LakeTable
    from sap_spark.sources.datagen import gen_change_events, write_change_log

    spark = get_spark(
        app_name="bench_discovery", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    cfg = EngineConfig(num_buckets=8).validate()
    schema = T.StructType(
        [T.StructField(c, T.StringType(), c in ("repo", "path"))
         for c in ("repo", "path", "commit", "lang", "content")]
    )
    workdir = tempfile.mkdtemp(prefix="discoverybench_")
    rows_out = []
    try:
        table = LakeTable.create(
            spark, os.path.join(workdir, "t"), schema,
            key_columns=["repo", "path"], num_buckets=8,
        )
        for n in SIZES:
            log = os.path.join(workdir, f"log{n}")
            write_change_log(
                gen_change_events(
                    spark, n_events=n, n_keys=max(n // 8, 500),
                    events_per_token=min(n, EVENTS_PER_TOKEN),
                ),
                log,
            )
            events = spark.read.parquet(log)
            est, arrow_bytes = narrow_stats(events, table, cfg)
            row = {
                "events": n,
                "estimate_bytes": est,
                "arrow_bytes": arrow_bytes,
                **measure(spark, events, table, cfg, args.reps),
            }
            rows_out.append(row)
            print(json.dumps(row), flush=True)
            shutil.rmtree(log, ignore_errors=True)
    finally:
        spark.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    if args.out:
        write_md(args.out, rows_out, args.cpus, args.reps)
    return 0


def write_md(out_path: str, rows: list[dict], cpus: int, reps: int) -> None:
    lines = [
        "# Batch discovery: driver collect vs persisted Spark jobs",
        "",
        f"`python tools/bench_discovery.py --cpus {cpus} --reps {reps}`: "
        f"local[{cpus}], medians of {reps} after one warm-up of each path. "
        "Both paths returned identical offsets, winners and cancel sets at "
        "every size.",
        "",
        "| events | winners | estimate | Arrow bytes | driver | tasks | faster "
        "| Python RSS growth | JVM RSS growth |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        faster = "driver" if r["driver_s"] < r["tasks_s"] else "tasks"
        lines.append(
            f"| {r['events']} | {r['winners']} | {r['estimate_bytes'] / 1e6:.2f} MB "
            f"| {r['arrow_bytes'] / 1e6:.2f} MB | {r['driver_s']:.3f} s "
            f"| {r['tasks_s']:.3f} s | {faster} | {r['py_rss_growth_mb']} MB "
            f"| {r['jvm_rss_growth_mb']} MB |"
        )
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    sys.exit(main())
