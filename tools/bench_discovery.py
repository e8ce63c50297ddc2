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

``--mor`` times whole epochs instead: ``ingest_batch`` of the same batch
into a fresh merge-on-read table, on the two paths such a batch can take:

- driver: the whole batch collected in one job, folded in Arrow
  (``operators/dedup.fold_arrow``) and written as pyarrow delta files
  from the driver (forced by lifting ``DRIVER_DISCOVERY_MAX_BYTES``);
- spark: what a batch past the whole-batch line runs (the driver write
  disabled, the constant at its value): narrow driver discovery while the
  narrow projection fits, persisted Spark jobs beyond, then the Spark
  fetch fold and write.

Per size it reports Catalyst's estimate of the whole projection (what the
constant is compared with), its Arrow bytes, both medians and the RSS
growth of the first driver-path epoch. Both paths must leave tables with
the same ``table_fingerprint`` or the run fails. ``--mor`` runs its own
sizes (``MOR_SIZES``), and skips the driver path (its columns left
empty) past ``DRIVER_LEG_MAX_BYTES`` of estimate, to bound this
process's memory.

    python tools/bench_discovery.py [--cpus 2] [--reps 5] [--out FILE]
    python tools/bench_discovery.py --mor [--cpus 2] [--reps 5] [--out FILE]
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
# --mor: denser around DRIVER_DISCOVERY_MAX_BYTES (64k events ~ 4 MB of
# whole-batch estimate)
MOR_SIZES = [
    5_000, 32_000, 64_000, 100_000, 150_000, 200_000, 1_000_000, 2_000_000,
]
# --mor runs no driver epoch past this whole-batch estimate: its Arrow
# copy is ~18x the estimate (1M events: 67 MB estimate, ~1.2 GB Arrow)
DRIVER_LEG_MAX_BYTES = 16 << 20
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


def measure_mor(spark, events, n: int, schema, cfg, workdir: str, reps: int) -> dict:
    """Whole merge-on-read epochs on the driver and the Spark path."""
    from sap_spark.plans import lake
    from sap_spark.plans.doctor import table_fingerprint
    from sap_spark.streaming import pipeline

    default_cap = pipeline.DRIVER_DISCOVERY_MAX_BYTES
    real_gate = lake.LakeTable.driver_write_schema
    whole = pipeline._whole_batch(
        events, lake.LakeTable.create(
            spark, os.path.join(workdir, f"probe{n}"), schema,
            key_columns=list(cfg.key_columns), num_buckets=8, merge_mode="mor",
        ), cfg,
    )
    est = pipeline._estimated_bytes(whole)
    legs = ["spark"]
    if est < DRIVER_LEG_MAX_BYTES:
        legs.insert(0, "driver")
    runs = {"n": 0}

    def epoch(leg: str, keep: bool = False):
        pipeline.DRIVER_DISCOVERY_MAX_BYTES = 1 << 62 if leg == "driver" else default_cap
        lake.LakeTable.driver_write_schema = real_gate if leg == "driver" else (
            lambda self, user: None
        )
        runs["n"] += 1
        root = os.path.join(workdir, f"mor{runs['n']}")
        table = lake.LakeTable.create(
            spark, root, schema, key_columns=list(cfg.key_columns),
            num_buckets=8, merge_mode="mor",
        )
        metrics: dict = {}
        t0 = time.perf_counter()
        pipeline.ingest_batch(events, table, cfg, "b0", metrics_out=metrics)
        took = time.perf_counter() - t0
        want = "arrow" if leg == "driver" else ("fetch", "window_salted")
        if metrics["strategy"] not in want:
            raise AssertionError(f"forced {leg} epoch folded by {metrics['strategy']}")
        out = (took, table_fingerprint(spark, lake.LakeTable(spark, root)) if keep else None)
        shutil.rmtree(root, ignore_errors=True)
        return out

    try:
        growth: dict = {}
        if "driver" in legs:
            proc = getattr(spark.sparkContext._gateway, "proc", None)
            growth = rss_growth(
                {"py": "self", **({"jvm": proc.pid} if proc is not None else {})},
                lambda: epoch("driver"),
            )
        prints = {leg: epoch(leg, keep=True)[1] for leg in legs}  # warm-up
        if len(set(map(json.dumps, prints.values()))) != 1:
            raise AssertionError("driver and spark epochs left different tables")
        times: dict = {leg: [] for leg in legs}
        for i in range(reps):
            for leg in legs if i % 2 == 0 else legs[::-1]:
                times[leg].append(epoch(leg)[0])
    finally:
        pipeline.DRIVER_DISCOVERY_MAX_BYTES = default_cap
        lake.LakeTable.driver_write_schema = real_gate
    med = {leg: round(statistics.median(v), 3) for leg, v in times.items()}
    return {
        "estimate_bytes": est,
        "arrow_bytes": whole.toArrow().nbytes if "driver" in legs else None,
        "driver_s": med.get("driver"),
        "spark_s": med["spark"],
        "py_rss_growth_mb": growth.get("py"),
        "jvm_rss_growth_mb": growth.get("jvm"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=2, help="local[N] task slots")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default=None)
    ap.add_argument("--mor", action="store_true",
                    help="time whole merge-on-read epochs (see module doc)")
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
        for n in MOR_SIZES if args.mor else SIZES:
            log = os.path.join(workdir, f"log{n}")
            write_change_log(
                gen_change_events(
                    spark, n_events=n, n_keys=max(n // 8, 500),
                    events_per_token=min(n, EVENTS_PER_TOKEN),
                ),
                log,
            )
            events = spark.read.parquet(log)
            if args.mor:
                row = {"events": n, **measure_mor(
                    spark, events, n, schema, cfg, workdir, args.reps
                )}
            else:
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
        (write_md_mor if args.mor else write_md)(
            args.out, rows_out, args.cpus, args.reps
        )
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


def write_md_mor(out_path: str, rows: list[dict], cpus: int, reps: int) -> None:
    def cell(v, fmt):
        return "—" if v is None else fmt.format(v)

    lines = [
        "# Merge-on-read epochs: driver write vs Spark write",
        "",
        f"`python tools/bench_discovery.py --mor --cpus {cpus} --reps {reps}`: "
        f"local[{cpus}], `ingest_batch` of one datagen batch into a fresh "
        f"8-bucket merge-on-read table, medians of {reps} after one warm-up "
        "of each path. Both paths left tables with the same fingerprint at "
        "every size they both ran.",
        "",
        "| events | estimate | Arrow bytes | driver | spark | faster "
        "| Python RSS growth | JVM RSS growth |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        faster = "—" if r["driver_s"] is None else (
            "driver" if r["driver_s"] < r["spark_s"] else "spark"
        )
        lines.append(
            f"| {r['events']} | {r['estimate_bytes'] / 1e6:.2f} MB "
            f"| {cell(r['arrow_bytes'] and r['arrow_bytes'] / 1e6, '{:.2f} MB')} "
            f"| {cell(r['driver_s'], '{:.3f} s')} | {r['spark_s']:.3f} s | {faster} "
            f"| {cell(r['py_rss_growth_mb'], '{} MB')} "
            f"| {cell(r['jvm_rss_growth_mb'], '{} MB')} |"
        )
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    sys.exit(main())
