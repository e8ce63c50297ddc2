"""The four benchmark workloads.

Each workload drives only the engine's public surface (``CdcPipeline`` /
``odata_delta_pipeline`` via ``run_available_now``; ``LakeTable.create`` /
``overwrite`` / ``read(where=)`` / ``changes_between``; ``table_fingerprint``)
through four steps:

- ``setup()``: generate the seeded inputs, preload, warm up;
- ``round(i)`` repeated for the measuring window: one ingest of newly
  available input (a whole replay, or one landed delta token);
- ``read_mix(i)``: point lookups, commit-sha lookups and a change feed on
  the table the ingest left behind;
- ``verify()``: untimed final-state checks against the DuckDB oracle.

A round is a closed loop with one client: the next round starts only after
``run_available_now`` returned.
"""

from __future__ import annotations

import os
import time

from perfbench import inputs, oracle
from perfbench.inputs import KEY_COLUMNS, TABLE_SCHEMA


class Workload:
    name = ""
    reads_every_round = False
    num_buckets = 8
    # at least this many measured rounds, so a run's percentiles rest on
    # the same round count whether the host is fast or slow
    min_rounds = 2
    # key lookups in each measured read mix (plus one sha lookup and one
    # change feed); warm-up mixes run two
    mix_points = 3

    def __init__(self, spark, workdir: str, seed: int, scale: float = 1.0,
                 tracer=None):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.lookups: list[dict] = []
        self.round_versions: tuple[int, int] | None = None
        self.checks: list[tuple[str, bool, dict]] = []

    def n(self, count: int, floor: int = 1) -> int:
        """A size scaled for smoke runs."""
        return max(int(count * self.scale), floor)

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def cfg(self):
        from sap_spark.config import EngineConfig

        return EngineConfig(num_buckets=self.num_buckets).validate()

    def exhausted(self) -> bool:
        return False

    # -- one round's bookkeeping -------------------------------------------

    def _ingest(self, pipe, events: int, landed_at: float | None = None) -> dict:
        """Run one ``run_available_now`` and describe the round."""
        seen = len(pipe.lineage())
        v0 = pipe.table.version
        t0 = time.perf_counter()
        pipe.run_available_now(timeout_sec=170)
        t1 = time.perf_counter()
        self.round_versions = (v0, pipe.table.version)
        new = [r for r in pipe.lineage()[seen:] if r.get("applied")]
        winners = sum(
            off.get("n_rows") or 0
            for r in new
            for off in (r.get("bucket_offsets") or {}).values()
        )
        counts = pipe.table.delta_file_counts()
        return {
            "events": events,
            "ingest_s": t1 - t0,
            "freshness_s": t1 - (t0 if landed_at is None else landed_at),
            "events_in": sum(r.get("n_events") or 0 for r in new),
            "winners": winners,
            "delta_files_max": max(counts.values(), default=0),
        }

    # -- reads ---------------------------------------------------------------

    def table_path(self) -> str:
        raise NotImplementedError

    def _timed_read(self, shape: str, fn) -> tuple[str, float, bool]:
        span = self.tracer.span(f"bench.read.{shape}") if self.tracer else None
        t0 = time.perf_counter()
        try:
            if span is None:
                ok, df = fn()
            else:
                with span as rec:
                    ok, df = fn()
        except Exception as exc:  # noqa: BLE001 — a failed read is counted
            print(f"# read {shape} failed: {exc!r}", flush=True)
            return shape, time.perf_counter() - t0, False
        elapsed = time.perf_counter() - t0
        if span is not None and shape != "changes":
            from sap_spark.plans.lake import LakeTable

            table = LakeTable(self.spark, self.table_path())
            rec["files_opened"] = len(df.inputFiles())
            rec["files_total"] = sum(len(v) for v in table.manifest["buckets"].values())
        return shape, elapsed, ok

    def read_mix(self, i: int, points: int | None = None) -> list[tuple[str, float, bool]]:
        """``points`` key lookups (default ``mix_points``), one commit-sha
        lookup, one change feed. Mix ``i`` takes the ``i``-th run of picks
        from the lookup sample."""
        from sap_spark.plans.lake import LakeTable

        path = self.table_path()
        n = (self.mix_points if points is None else points) + 1
        picks = [self.lookups[(n * i + k) % len(self.lookups)] for k in range(n)]
        out = []
        for p in picks[:-1]:
            def point(p=p):
                df = LakeTable(self.spark, path).read(
                    where=f"repo = '{p['repo']}' AND path = '{p['path']}'"
                )
                rows = df.collect()
                ok = len(rows) <= 1 and all(
                    (r["repo"], r["path"]) == (p["repo"], p["path"]) for r in rows
                )
                return ok, df
            out.append(self._timed_read("point", point))
        for p in picks[-1:]:
            def sha(p=p):
                df = LakeTable(self.spark, path).read(where=f"commit = '{p['commit']}'")
                rows = df.collect()
                return all(r["commit"] == p["commit"] for r in rows), df
            out.append(self._timed_read("sha", sha))
        v0, v1 = self.round_versions

        def changes():
            df = LakeTable(self.spark, path).changes_between(v0, v1)
            df.collect()
            return True, df
        out.append(self._timed_read("changes", changes))
        return out

    def check(self, name: str, result: dict) -> None:
        self.checks.append((name, bool(result["ok"]), result))


class _Replay(Workload):
    """A whole log replayed into a fresh empty COW table each round."""

    min_rounds = 3
    max_files_per_trigger = 4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.replays = 0
        self.log_path = self.path("inputs", "log")

    def _pipeline(self, table, log_path: str, ckpt: str):
        raise NotImplementedError

    def _replay(self) -> dict:
        from sap_spark.plans.lake import LakeTable

        k = self.replays
        self.replays += 1
        table = LakeTable.create(
            self.spark, self.path("tables", f"r{k}"), TABLE_SCHEMA,
            key_columns=KEY_COLUMNS, num_buckets=self.num_buckets,
        )
        pipe = self._pipeline(table, self.log_path, self.path("ckpt", f"r{k}"))
        rec = self._ingest(pipe, self.events)
        rec["log_bytes"] = self.log_bytes
        return rec

    def warm_up(self) -> None:
        """One unmeasured replay and two read mixes: compiles every plan
        shape the measured rounds and reads run (read latency still falls
        over the second mix). Its table joins the fingerprint checks."""
        self._replay()
        for k in range(2):
            self.read_mix(k, points=2)

    def table_path(self) -> str:
        return self.path("tables", f"r{self.replays - 1}")

    def round(self, i: int) -> dict:
        return self._replay()

    def _oracle_events(self) -> str:
        return os.path.join(self.log_path, "*", "*.parquet")

    def verify(self) -> None:
        from sap_spark.plans.doctor import table_fingerprint

        res = oracle.check_final_state(
            self.spark, self.table_path(), self._oracle_events(), self.workdir
        )
        self.check("oracle", res)
        # every replay of the same log must land the identical state
        for k in range(self.replays - 1):
            fp = table_fingerprint(self.spark, self.path("tables", f"r{k}"))
            self.check(f"replay{k}_fingerprint",
                       {"ok": fp["fingerprint"] == res["fingerprint"], **fp})


class Backfill(_Replay):
    name = "backfill"
    # two mixes on the last table: ten key lookups put the median read in
    # the middle of the key lookups, away from the sha and change reads
    mix_points = 5

    def setup(self) -> None:
        inputs.write_change_log(
            self.spark, self.log_path, self.seed, n_events=self.n(64_000, 2_000),
            n_keys=self.n(8_000, 400), events_per_token=self.n(8_000, 250),
        )
        self.events = inputs.tree_rows(self.log_path)
        self.log_bytes = inputs.tree_bytes(self.log_path)
        self.lookups = inputs.sample_lookups(self.log_path, self.seed, 64)
        self.warm_up()

    def _pipeline(self, table, log_path, ckpt):
        from sap_spark.streaming.pipeline import CdcPipeline

        return CdcPipeline(
            self.spark, self.cfg(), table, log_path, checkpoint_dir=ckpt,
            max_files_per_trigger=self.max_files_per_trigger, pipeline_id="bench",
        )


class ODataBackfill(_Replay):
    name = "odata_backfill"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.log_path = self.path("inputs", "pages")
        self.events_path = self.path("inputs", "odata_events")

    def setup(self) -> None:
        from sap_spark.schema.metadata import resolve_entity_type

        self.entity = resolve_entity_type(inputs.REPO_EDMX, "Repos")
        self.events = self.n(60_000, 2_000)
        per_token = self.n(7_500, 200) // 20 * 20
        inputs.write_odata_pages(
            self.spark, self.events_path, self.log_path, self.seed,
            n_events=self.events, n_keys=self.n(10_000, 400),
            events_per_token=per_token, page_size=per_token // 20,
        )
        self.log_bytes = inputs.tree_bytes(self.log_path)
        self.lookups = inputs.sample_lookups(self.events_path, self.seed, 64)
        self.warm_up()

    def _pipeline(self, table, log_path, ckpt):
        from sap_spark.streaming.pipeline import odata_delta_pipeline

        return odata_delta_pipeline(
            self.spark, self.cfg(), table, log_path, checkpoint_dir=ckpt,
            entity=self.entity, key_columns=KEY_COLUMNS,
            max_files_per_trigger=self.max_files_per_trigger, pipeline_id="bench",
        )

    def _oracle_events(self) -> str:
        return os.path.join(self.events_path, "*.parquet")


class Trickle(Workload):
    """A preloaded table fed one small delta token per round."""

    name = "trickle"
    merge_mode = "cow"
    warmup_rounds = 1
    max_rounds = 12

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.staged = self.path("inputs", "staged")
        self.log_path = self.path("inputs", "log")
        self.base_path = self.path("inputs", "base")
        self.landed = 0

    def table_kwargs(self) -> dict:
        return {}

    def pipeline_kwargs(self) -> dict:
        return {}

    def setup(self) -> None:
        from sap_spark.plans.lake import LakeTable
        from sap_spark.streaming.pipeline import CdcPipeline

        n_keys = self.n(10_000, 400)
        per_token = self.n(5_000, 200)
        inputs.write_base_snapshot(self.spark, self.base_path, self.seed, n_keys)
        inputs.write_change_log(
            self.spark, self.staged, self.seed, n_events=per_token * (
                self.warmup_rounds + self.max_rounds),
            n_keys=n_keys, events_per_token=per_token,
        )
        self.tokens = inputs.token_dirs(self.staged)
        os.makedirs(self.log_path)
        self.lookups = inputs.sample_lookups(self.base_path, self.seed, 32)
        self.lookups += inputs.sample_lookups(self.staged, self.seed, 32)
        table = LakeTable.create(
            self.spark, self.path("tables", "t"), TABLE_SCHEMA,
            key_columns=KEY_COLUMNS, num_buckets=self.num_buckets,
            merge_mode=self.merge_mode, **self.table_kwargs(),
        )
        table.overwrite(self.spark.read.parquet(self.base_path), batch_id="preload")
        self.pipe = CdcPipeline(
            self.spark, self.cfg(), table, self.log_path,
            checkpoint_dir=self.path("ckpt"), pipeline_id="bench",
            **self.pipeline_kwargs(),
        )
        for w in range(self.warmup_rounds):
            self.round(-1 - w)
            if self.reads_every_round:
                # lookups from the sample's end: the measured mixes take
                # theirs from its start
                self.read_mix(-1 - w, points=2)
        if not self.reads_every_round:
            self.read_mix(0, points=2)

    def exhausted(self) -> bool:
        return self.landed >= len(self.tokens)

    def table_path(self) -> str:
        return self.pipe.table.path

    def round(self, i: int) -> dict:
        tok = self.tokens[self.landed]
        self.landed += 1
        dst = os.path.join(self.log_path, tok)
        os.rename(os.path.join(self.staged, tok), dst)  # atomic landing
        landed_at = time.perf_counter()
        rec = self._ingest(self.pipe, inputs.tree_rows(dst), landed_at)
        rec["log_bytes"] = inputs.tree_bytes(dst)
        return rec

    def verify(self) -> None:
        self.check("oracle", oracle.check_final_state(
            self.spark, self.table_path(),
            os.path.join(self.log_path, "*", "*.parquet"), self.workdir,
            base_path=self.base_path,
        ))


class MorServing(Trickle):
    name = "mor_serving"
    merge_mode = "mor"
    reads_every_round = True
    # auto-compaction fires every second round; the warm-up is one full
    # cycle with its read mixes, so measured rounds start right after a
    # compaction with both read states (one delta file, compacted) warm
    compact_every = warmup_rounds = 2
    # exactly three measured rounds (one delta file, compacted, one delta
    # file): two thirds of the reads see one table state, so the median
    # read falls inside that state's latencies, not in the gap between two
    min_rounds = max_rounds = 3
    # a serving mix is mostly key lookups: four per round keep the median
    # read a key lookup whichever sha lookup or change feed runs slow
    mix_points = 4

    def table_kwargs(self) -> dict:
        return {"bloom_columns": ["commit"]}

    def pipeline_kwargs(self) -> dict:
        return {"auto_compact_delta_files": self.compact_every}


WORKLOADS = {w.name: w for w in (Backfill, Trickle, MorServing, ODataBackfill)}

