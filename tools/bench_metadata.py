"""Where a commit's manifest metadata is cheaper to collect: driver or tasks.

Times the two collection paths of ``LakeTable._collect_commit_metadata``
over the same freshly written files:

- driver walk: ``collect_entry_metadata`` over every file, in this process;
- task pass: ``collect_metadata_distributed``, one Spark job with no shuffle.

The files are repo-shaped merge-on-read delta files (the seven columns a
delta commit writes: ``repo, path, commit, lang, content, _event_seq,
_deleted``), with bounds and null counts on the table's default stats
columns (``repo, path, _event_seq``) and a bloom on ``commit``. Each size
gets one untimed warm-up of each path, then ``--reps`` timed runs in
alternating order; the table reports medians. Both paths must return
identical metadata (compared as sorted JSON) and leave identical sidecar
bytes, or the run fails. The run ends by printing the crossover: the
size, interpolated between the two measured sizes around it, past which
the task pass is faster at every measured size. That figure sets
``LakeTable._DISTRIBUTED_DATA_MIN_BYTES``. ``--out FILE`` also writes the
table as markdown (the reading of it in BENCH/METADATA_r6.md is by hand).

    python tools/bench_metadata.py [--cpus 2] [--reps 5] [--out FILE]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

# (rows, files) per measured commit shape: ~66 bytes per row, so the
# 8-file shapes step through 0.2-6.6 MB, densest around the crossover
SIZES = [
    (3_000, 8), (10_000, 8), (20_000, 8), (35_000, 8), (50_000, 8),
    (65_000, 8), (80_000, 8), (100_000, 8), (400_000, 32),
]
STATS_COLS = ["repo", "path", "_event_seq"]
BLOOM_COLS = ["commit"]


def write_files(spark, path: str, rows: int, files: int) -> list[str]:
    from sap_spark.sources.datagen import gen_repos

    (
        gen_repos(spark, n_keys=rows)
        .select(
            "*",
            F.monotonically_increasing_id().alias("_event_seq"),
            F.lit(False).alias("_deleted"),
        )
        .repartition(files)
        .write.parquet(path)
    )
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def sidecar_bytes(paths: list[str]) -> dict[str, bytes]:
    from sap_spark.plans.stats import bloom_sidecar_path

    out = {}
    for p in paths:
        with open(bloom_sidecar_path(p), "rb") as f:
            out[p] = f.read()
    return out


def measure(spark, paths: list[str], reps: int) -> dict:
    from sap_spark.plans.stats import (
        collect_entry_metadata,
        collect_metadata_distributed,
    )

    def driver():
        return {p: collect_entry_metadata(p, STATS_COLS, BLOOM_COLS) for p in paths}

    def tasks():
        return collect_metadata_distributed(spark, paths, STATS_COLS, BLOOM_COLS)

    runs = {"driver": driver, "tasks": tasks}
    results, sidecars, times = {}, {}, {"driver": [], "tasks": []}
    for name, fn in runs.items():  # warm-up; also the equality sample
        results[name] = json.dumps(fn(), sort_keys=True)
        sidecars[name] = sidecar_bytes(paths)
    if results["driver"] != results["tasks"]:
        raise AssertionError("driver walk and task pass disagree on metadata")
    if sidecars["driver"] != sidecars["tasks"]:
        raise AssertionError("driver walk and task pass wrote different sidecars")
    for i in range(reps):
        order = ["driver", "tasks"] if i % 2 == 0 else ["tasks", "driver"]
        for name in order:
            t0 = time.perf_counter()
            runs[name]()
            times[name].append(time.perf_counter() - t0)
    return {name: statistics.median(ts) for name, ts in times.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=2, help="local[N] task slots")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from sap_spark.config import get_spark

    spark = get_spark(
        app_name="bench_metadata", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    workdir = tempfile.mkdtemp(prefix="metabench_")
    rows_out = []
    try:
        for rows, files in SIZES:
            paths = write_files(spark, os.path.join(workdir, f"r{rows}"), rows, files)
            nbytes = sum(os.path.getsize(p) for p in paths)
            med = measure(spark, paths, args.reps)
            row = {
                "rows": rows, "files": len(paths), "bytes": nbytes,
                "driver_s": round(med["driver"], 3), "tasks_s": round(med["tasks"], 3),
            }
            rows_out.append(row)
            print(json.dumps(row), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    cross = crossover_bytes(rows_out)
    print(json.dumps({"cpus": args.cpus, "crossover_bytes": cross}), flush=True)
    if args.out:
        write_md(args.out, rows_out, args.cpus, args.reps, cross)
    return 0


def crossover_bytes(rows: list[dict]) -> "int | None":
    """Bytes past which the task pass wins at every measured size,
    linearly interpolated on (driver - tasks) between the last size the
    driver wins and the next one; None if the driver wins the largest
    size, 0 if the task pass wins them all."""
    rows = sorted(rows, key=lambda r: r["bytes"])
    gain = [r["driver_s"] - r["tasks_s"] for r in rows]
    if gain[-1] <= 0:
        return None
    i = len(rows) - 1
    while i > 0 and gain[i - 1] > 0:
        i -= 1
    if i == 0:
        return 0
    lo, hi = rows[i - 1]["bytes"], rows[i]["bytes"]
    return int(lo + (hi - lo) * -gain[i - 1] / (gain[i] - gain[i - 1]))


def write_md(
    out_path: str, rows: list[dict], cpus: int, reps: int, cross: "int | None"
) -> None:
    lines = [
        "# Commit metadata: driver walk vs one-job task pass",
        "",
        f"`python tools/bench_metadata.py --cpus {cpus} --reps {reps}`: "
        f"local[{cpus}], medians of {reps} after one warm-up of each path. "
        "Files: repo-shaped MOR delta files (7 columns); bounds and null "
        "counts on `repo, path, _event_seq`, bloom on `commit`. Both paths "
        "returned identical metadata and wrote identical sidecars at every size.",
        "",
        "| rows (files) | bytes | driver walk | one-job task pass | faster |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        faster = "driver" if r["driver_s"] < r["tasks_s"] else "tasks"
        lines.append(
            f"| {r['rows'] // 1000}k ({r['files']}) | {r['bytes'] / 1e6:.2f} MB | "
            f"{r['driver_s']:.3f} s | {r['tasks_s']:.3f} s | {faster} |"
        )
    lines += [
        "",
        "Crossover: "
        + ("none measured" if cross is None else f"{cross / 1e6:.2f} MB"),
    ]
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    sys.exit(main())
