"""Where a merge-on-read compaction is cheaper: folded on the driver, or
through Spark.

Times the two paths of ``LakeTable.compact`` over the same table:

- driver: the dirty buckets' files read with pyarrow, each key folded to
  its latest row in Arrow and written by the driver writer
  (``_write_arrow_buckets``), forced past the size line by lifting
  ``plans/lake.DRIVER_DISCOVERY_MAX_BYTES``;
- spark: ``read_internal`` → ``_write_buckets`` (the driver path disabled
  by patching ``LakeTable.driver_write_schema`` to None, as the tests'
  ``spark_write`` fixture does).

Each size is the ``mor_serving`` benchmark table scaled up: an 8-bucket
merge-on-read table with a bloom on ``commit``, a base of ``keys`` rows
(``datagen.gen_repos``) and two datagen tokens of ``keys / 2`` events each
merged as delta files, so every bucket is dirty. The deltas are written
twice, into two tables: from the driver with pyarrow (what small epochs
do) and by Spark (``driver_write_schema`` patched during the ingest), and
the spark leg compacts both (``spark`` and ``spark over spark deltas``):
whether Spark reads pyarrow-written deltas slower. Each compaction runs on
a fresh copy of its table, with ``purge_tombstones=False`` as the
pipeline's auto-compaction runs it; one untimed warm-up of each leg, then
``--reps`` timed runs in alternating order; the table reports medians.
The driver and spark compactions must leave the same ``table_fingerprint``,
internal rows and files per bucket, or the run fails. Per size it also
reports the on-disk bytes of the dirty files (what the constant is
compared with), the bytes each path wrote, and how far the RSS of this
Python process and of the JVM rose during the first driver compaction of
that size (sampled every 5 ms). The driver leg is skipped past
``DRIVER_LEG_MAX_BYTES`` of table, to bound this process's memory.

Prints one JSON line per size, then the markdown table.

    python tools/bench_compact.py [--cpus 2] [--reps 5]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_discovery import rss_growth  # noqa: E402 — sibling tool

# base keys per table; 10k is the mor_serving table (~1.2 MB of parquet)
KEYS = [10_000, 20_000, 40_000, 80_000, 130_000, 200_000]
# no driver compaction past this many bytes of dirty files
DRIVER_LEG_MAX_BYTES = 16 << 20
LEGS = ("driver", "spark", "spark over spark deltas")


def write_inputs(spark, workdir: str, keys: int) -> "tuple[str, str]":
    """The base rows and the two-token change log of one size, as parquet
    (both tables of a size are built from the same files)."""
    from sap_spark.sources.datagen import (
        gen_change_events,
        gen_repos,
        write_change_log,
    )

    base, log = os.path.join(workdir, "base"), os.path.join(workdir, "log")
    gen_repos(spark, n_keys=keys).write.mode("overwrite").parquet(base)
    write_change_log(
        gen_change_events(
            spark, n_events=keys, n_keys=keys, events_per_token=keys // 2
        ),
        log,
    )
    return base, log


def build(spark, root: str, base: str, log: str, spark_deltas: bool) -> None:
    """The benchmark table at ``root``: the base, then each delta token."""
    from pyspark.sql import types as T

    from sap_spark.config import EngineConfig
    from sap_spark.plans.lake import LakeTable
    from sap_spark.streaming import pipeline

    schema = T.StructType(
        [T.StructField(c, T.StringType(), c not in ("repo", "path"))
         for c in ("repo", "path", "commit", "lang", "content")]
    )
    table = LakeTable.create(
        spark, root, schema, key_columns=["repo", "path"], num_buckets=8,
        merge_mode="mor", bloom_columns=["commit"],
    )
    table.overwrite(spark.read.parquet(base), batch_id="base")
    cfg = EngineConfig(num_buckets=8).validate()
    cap, gate = pipeline.DRIVER_DISCOVERY_MAX_BYTES, LakeTable.driver_write_schema
    if spark_deltas:
        LakeTable.driver_write_schema = lambda self, user: None
    else:  # pyarrow deltas at every size, as a small epoch writes them
        pipeline.DRIVER_DISCOVERY_MAX_BYTES = 1 << 62
    try:
        for tok in sorted(d for d in os.listdir(log) if d.startswith("delta_token=")):
            batch = spark.read.parquet(os.path.join(log, tok))
            table = LakeTable(spark, root)
            pipeline.ingest_batch(batch, table, cfg, tok)
            want = "tasks" if spark_deltas else "driver"
            if table.last_merge_metrics["write_on"] != want:
                raise AssertionError(f"deltas written on {table.last_merge_metrics}")
    finally:
        pipeline.DRIVER_DISCOVERY_MAX_BYTES, LakeTable.driver_write_schema = cap, gate


def compact(spark, src: str, dst: str, leg: str):
    """Compact a fresh copy of ``src`` on ``leg``; ``(seconds, table)``."""
    from sap_spark.plans import lake

    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    table = lake.LakeTable(spark, dst)
    cap, gate = lake.DRIVER_DISCOVERY_MAX_BYTES, lake.LakeTable.driver_write_schema
    if leg == "driver":
        lake.DRIVER_DISCOVERY_MAX_BYTES = 1 << 62
    else:
        lake.LakeTable.driver_write_schema = lambda self, user: None
    try:
        t0 = time.perf_counter()
        table.compact(purge_tombstones=False)
        took = time.perf_counter() - t0
    finally:
        lake.DRIVER_DISCOVERY_MAX_BYTES, lake.LakeTable.driver_write_schema = cap, gate
    want = "driver" if leg == "driver" else "tasks"
    if table.last_compact_on != want:
        raise AssertionError(f"forced {leg} compaction ran on {table.last_compact_on}")
    return took, table


def table_bytes(table) -> int:
    return sum(
        os.path.getsize(e["path"]) for _, es in table.bucket_entries() for e in es
    )


def measure(spark, keys: int, workdir: str, reps: int) -> dict:
    from sap_spark.plans.doctor import table_fingerprint

    srcs = {
        "pyarrow": os.path.join(workdir, f"t{keys}"),
        "spark": os.path.join(workdir, f"s{keys}"),
    }
    base, log = write_inputs(spark, workdir, keys)
    build(spark, srcs["pyarrow"], base, log, spark_deltas=False)
    build(spark, srcs["spark"], base, log, spark_deltas=True)
    from sap_spark.plans.lake import LakeTable

    src = LakeTable(spark, srcs["pyarrow"])
    size = table_bytes(src)
    legs = [leg for leg in LEGS if leg != "driver" or size < DRIVER_LEG_MAX_BYTES]

    def run(leg: str):
        base = srcs["spark" if leg == "spark over spark deltas" else "pyarrow"]
        return compact(spark, base, os.path.join(workdir, "c"), leg)

    growth: dict = {}
    if "driver" in legs:
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        growth = rss_growth(
            {"py": "self", **({"jvm": proc.pid} if proc is not None else {})},
            lambda: run("driver"),
        )
    seen, written = {}, {}
    for leg in legs:  # warm-up; also the equality sample
        _, t = run(leg)
        written[leg] = table_bytes(t)
        seen[leg] = (
            json.dumps(table_fingerprint(spark, t)),
            sorted(map(repr, t.read_internal().collect())),
            sorted((b, len(es)) for b, es in t.bucket_entries()),
        )
    if len(set(json.dumps(v) for v in seen.values())) != 1:
        raise AssertionError(f"compactions disagree at {keys} keys")
    times: dict = {leg: [] for leg in legs}
    for i in range(reps):
        for leg in legs if i % 2 == 0 else legs[::-1]:
            times[leg].append(run(leg)[0])
    for root in [*srcs.values(), base, log]:
        shutil.rmtree(root, ignore_errors=True)
    med = {leg: round(statistics.median(v), 3) for leg, v in times.items()}
    return {
        "keys": keys,
        "dirty_bytes": size,
        "files": sum(len(es) for _, es in src.bucket_entries()),
        "driver_s": med.get("driver"),
        "spark_s": med["spark"],
        "spark_over_spark_deltas_s": med["spark over spark deltas"],
        "driver_written_bytes": written.get("driver"),
        "spark_written_bytes": written["spark"],
        "py_rss_growth_mb": growth.get("py"),
        "jvm_rss_growth_mb": growth.get("jvm"),
    }


def markdown(rows: list[dict], cpus: int, reps: int) -> str:
    def cell(v, fmt):
        return "—" if v is None else fmt.format(v)

    lines = [
        f"`python tools/bench_compact.py --cpus {cpus} --reps {reps}`: "
        f"local[{cpus}], medians of {reps} after one warm-up of each leg.",
        "",
        "| keys | dirty files | dirty bytes | driver | spark | spark over spark "
        "deltas | faster | written driver / spark | Python RSS growth "
        "| JVM RSS growth |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        faster = "—" if r["driver_s"] is None else (
            "driver" if r["driver_s"] < r["spark_s"] else "spark"
        )
        lines.append(
            f"| {r['keys']} | {r['files']} | {r['dirty_bytes'] / 1e6:.2f} MB "
            f"| {cell(r['driver_s'], '{:.3f} s')} | {r['spark_s']:.3f} s "
            f"| {r['spark_over_spark_deltas_s']:.3f} s | {faster} "
            f"| {cell(r['driver_written_bytes'] and r['driver_written_bytes'] / 1e6, '{:.2f}')}"
            f" / {r['spark_written_bytes'] / 1e6:.2f} MB "
            f"| {cell(r['py_rss_growth_mb'], '{} MB')} "
            f"| {cell(r['jvm_rss_growth_mb'], '{} MB')} |"
        )
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=2, help="local[N] task slots")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    from sap_spark.config import get_spark

    spark = get_spark(
        app_name="bench_compact", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    workdir = tempfile.mkdtemp(prefix="compactbench_")
    rows = []
    try:
        for keys in KEYS:
            rows.append(measure(spark, keys, workdir, args.reps))
            print(json.dumps(rows[-1]), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    print(markdown(rows, args.cpus, args.reps))
    return 0


if __name__ == "__main__":
    sys.exit(main())
