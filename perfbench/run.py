"""CDC ingest benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout, in one process at ``local[<slots>]``
(half the cores: see ``SLOTS``).
Phases: session start, seeded input generation, preload and warm-up (all
in ``setup_s``); rounds of ingest for ``--seconds``; read mixes; untimed
final-state checks against the DuckDB oracle. With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` the run is
traced (spans around every engine layer, Spark event log on) and carries
the per-layer metrics. Everything the run writes stays under
``.perfbench_work/`` (deleted at exit) and ``.perfbench_out/`` (span
dumps) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = len(os.sched_getaffinity(0))
# Spark task slots. The driver JVM's own threads (scheduler, GC, JIT), the
# Python client and the Python UDF workers run beside the tasks; with a
# slot per core they oversubscribe the cores, and every stage then waits
# for its slowest task whenever the host steals a core. On a 4-core VM, 2
# slots ingested and read about as fast as 4 in interleaved runs, with a
# narrower run-to-run spread.
SLOTS = max(1, CORES // 2)
DRIVER_MEM = "2g"  # fits a 15 GB host shared with other work


def cpu_probe() -> float:
    """Seconds for a fixed single-core pure-Python loop: host speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat: the share of
    time the hypervisor ran something else while this VM wanted the CPU."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1])."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def start_session(workdir: str, trace: bool):
    from sap_spark.config import get_spark

    tmp = os.path.join(workdir, "tmp")
    conf = {
        # the change log is written with 8m row groups; small splits give
        # every core a share of one token file (as bench.py does)
        "spark.sql.files.maxPartitionBytes": "2m",
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(workdir, "eventlog")
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers (mapInPandas page parsing) import the engine too
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in paths if p != ROOT])
    return get_spark(
        app_name="perfbench", master=f"local[{SLOTS}]",
        shuffle_partitions=SLOTS, extra_conf=conf,
    )


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid`` (the JVM's Python worker daemon and its
    workers), from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = [], [pid]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_peak_rss_mb(spark) -> float:
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    try:
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        # the next session in this process launches a fresh JVM
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def measure(wl, seconds: float, tracer) -> tuple[list[dict], list[tuple]]:
    """Rounds until ``seconds`` have passed (at least the workload's
    minimum, at most the input it staged), then reads."""
    rounds, reads = [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while not wl.exhausted() and (
        i < wl.min_rounds or time.perf_counter() < deadline
    ):
        if tracer is not None:
            tracer.round = i
        rec = wl.round(i)
        rec["round"] = i
        rounds.append(rec)
        if wl.reads_every_round:
            reads += wl.read_mix(i)
        i += 1
    if tracer is not None:
        tracer.round = "reads"
    if not wl.reads_every_round:
        for k in range(2):  # the median rests on the key lookups
            reads += wl.read_mix(i + k)
    return rounds, reads


def odata_parse_rate(spark, workdir: str, seed: int, scale: float) -> float:
    """Rows/s of ``delta_feed_to_changelog`` over staged pages into a noop
    sink: the OData page-parse layer alone."""
    from perfbench import inputs
    from sap_spark.schema.metadata import resolve_entity_type
    from sap_spark.sources.odata_feed import delta_feed_to_changelog

    pages = os.path.join(workdir, "inputs", "pages")
    if not os.path.isdir(pages):
        n = max(int(50_000 * scale), 1_000)
        pages = os.path.join(workdir, "probe", "pages")
        inputs.write_odata_pages(
            spark, os.path.join(workdir, "probe", "events"), pages, seed,
            n_events=n, n_keys=max(n // 10, 100), events_per_token=n // 5,
            page_size=n // 100,
        )
    entity = resolve_entity_type(inputs.REPO_EDMX, "Repos")
    docs = spark.read.parquet(pages)
    rows = delta_feed_to_changelog(docs, entity, inputs.KEY_COLUMNS)
    rows.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    rows.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    return rows.count() / elapsed


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: float = 1.0, workdir: str | None = None) -> dict:
    """Run one workload; returns the result object printed by :func:`main`,
    plus a ``details`` key with raw samples."""
    from perfbench.workloads import WORKLOADS

    workdir = workdir or os.path.join(
        ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}"
    )
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    try:
        return _run(WORKLOADS[workload], workdir, seed, seconds, trace, scale)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _run(workload_cls, workdir: str, seed: int, seconds: float, trace: bool,
         scale: float) -> dict:
    probes = [cpu_probe() for _ in range(3)]
    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    spark = start_session(workdir, trace)
    session_s = time.perf_counter() - t0
    tracer = None
    try:
        wl = workload_cls(spark, workdir, seed, scale=scale)
        t0 = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t0
        if trace:
            from perfbench.trace import Tracer, install

            tracer = Tracer()
            install(tracer)
            wl.tracer = tracer
        t0 = time.perf_counter()
        rounds, reads = measure(wl, seconds, tracer)
        measure_s = time.perf_counter() - t0
        parse_rate = None
        if trace:
            from sap_spark.plans.lake import LakeTable

            tracer.round = "maintenance"
            LakeTable(spark, wl.table_path()).compact()
            tracer.round = "parse_probe"
            parse_rate = odata_parse_rate(spark, workdir, seed, scale)
            tracer.round = "verify"
        t0 = time.perf_counter()
        wl.verify()
        verify_s = time.perf_counter() - t0
        peak_rss_mb = (
            jvm_peak_rss_mb(spark)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
    finally:
        if tracer is not None:
            tracer.close()
        stop_session(spark)
    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    probes += [cpu_probe() for _ in range(3)]

    events = sum(r["events"] for r in rounds)
    ingest_s = sum(r["ingest_s"] for r in rounds)
    fresh = [r["freshness_s"] for r in rounds]
    read_s = [s for _, s, _ in reads]
    failed = sum(1 for _, _, ok in reads if not ok) + sum(
        1 for _, ok, _ in wl.checks if not ok
    )
    if trace:
        from perfbench.trace import layer_metrics, read_event_log

        evdir = os.path.join(workdir, "eventlog")
        evlog = read_event_log(evdir, [wl.log_path])
        metrics = layer_metrics(tracer, rounds, evlog, SLOTS, evdir)
        metrics["odata_feed.parse_rows_per_s"] = (parse_rate, "1/s")
        metrics["host.cpu_probe_s"] = (statistics.median(probes), "s")
        metrics["host.steal_ratio"] = (steal, "ratio")
        metrics["trace.events_per_s"] = (events / ingest_s, "1/s")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{wl.name}-seed{seed}-spans.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "events_per_s": (events / ingest_s, "1/s"),
            "freshness_p50_s": (percentile(fresh, 0.5), "s"),
            "read_p50_s": (percentile(read_s, 0.5), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    return {
        "correct": failed == 0,
        "attempted": len(rounds) + len(reads) + len(wl.checks),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        "details": {
            "phases_s": {"session": session_s, "setup": setup_s,
                         "measure": measure_s, "verify": verify_s},
            "rounds": len(rounds),
            # tails are reported, not bounded: a run has 2-3 rounds and 8-12
            # reads, too few samples beyond p75/p90 for a steady figure
            "freshness_samples": len(fresh),
            "freshness_p75_s": percentile(fresh, 0.75),
            "read_samples": len(read_s),
            "read_p90_s": percentile(read_s, 0.9),
            "events": events,
            "cpu_probe_s": probes,
            "host_steal_ratio": steal,
            "checks": wl.checks,
            "spans": tracer.spans if tracer is not None else None,
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import sap_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine or its toolchain: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 — the CLI boundary: report, exit non-zero
        traceback.print_exc()
        return 1
    details = result.pop("details")
    details.pop("spans")  # written to .perfbench_out/ by traced runs
    print("# " + json.dumps(details, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
