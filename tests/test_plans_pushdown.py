"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in `explain` output, not assumed.

- OData-style options reach the parquet scan (PushedFilters / ReadSchema)
- column pruning keeps untouched columns out of the scan
- dimension joins broadcast
- LWW winner selection does map-side partial aggregation (partial_max
  before the exchange)
"""

import pyspark.sql.functions as F

from sap_spark.config import EngineConfig
from sap_spark.sources.changelog import ODataQueryOptions, apply_query_options


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushdown(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = apply_query_options(
        ev,
        ODataQueryOptions.parse(
            "$filter=event_type = 'click'&$select=event_id,event_type"
        ),
    )
    plan = plan_of(out)
    assert "PushedFilters" in plan
    assert "EqualTo(event_type,click)" in plan.replace(" ", "").replace("'", "") or (
        "event_type" in plan.split("PushedFilters")[1][:200]
    )
    # scan must read ONLY the selected+filtered columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in read_schema and "event_type" in read_schema
    assert "user_id" not in read_schema and "props" not in read_schema


def test_limit_becomes_global_limit(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = apply_query_options(ev, ODataQueryOptions.parse("$top=7"))
    plan = plan_of(out)
    assert "GlobalLimit" in plan or "CollectLimit" in plan


def test_dimension_join_broadcasts(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    joined = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    plan = plan_of(joined)
    assert plan.count("BroadcastHashJoin") >= 2  # tree + node detail lines
    assert "SortMergeJoin" not in plan


def test_bucket_pruned_merge_reads_only_affected_files(spark, tmpdir_path):
    """The COW merge plan must scan only the affected buckets' files."""
    from pyspark.sql import types as T
    from sap_spark.plans.lake import LakeTable
    from sap_spark.streaming.pipeline import ingest_batch

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
        ]
    )
    cfg = EngineConfig(payload_columns=("content",), num_buckets=8).validate()
    table = LakeTable.create(spark, f"{tmpdir_path}/t", schema, ["repo", "path"], 8)
    seed = spark.createDataFrame(
        [(f"r{i}", f"p{i}", 100 + i, "I", f"c{i}") for i in range(200)],
        "repo string, path string, event_seq long, op string, content string",
    )
    ingest_batch(seed, table, cfg, "b0")
    n_all_files = sum(len(v) for v in table.manifest["buckets"].values())
    one = spark.createDataFrame(
        [("r1", "p1", 999, "U", "new")],
        "repo string, path string, event_seq long, op string, content string",
    )
    target_before = table.read_internal()  # full-table plan for comparison
    full_files = len(target_before.inputFiles())
    ingest_batch(one, table, cfg, "b1")
    # after the single-key merge, exactly one bucket was rewritten; the
    # merge read only that bucket's files (asserted via manifest diff in
    # lake tests) — here assert the full read sees all files but a pruned
    # read sees fewer
    pruned = table.read_internal(buckets=[0])
    assert len(pruned.inputFiles()) < full_files
    assert full_files == n_all_files


def test_mor_read_folds_only_delta_buckets(spark, tmpdir_path):
    """MOR read-path scale guard: the latest-row fold (a payload-carrying
    aggregate shuffle) must cover ONLY delta-bearing buckets — base-only
    buckets union in verbatim. A key lives in exactly one hash bucket, so
    this is semantics-preserving; without it a 100 TB table with one hot
    bucket's delta pays an O(table) shuffle on every read."""
    from pyspark.sql import types as T
    from sap_spark.plans.lake import LakeTable, bucket_expr
    from sap_spark.streaming.pipeline import ingest_batch

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
        ]
    )
    cfg = EngineConfig(payload_columns=("content",), num_buckets=8).validate()
    table = LakeTable.create(
        spark, f"{tmpdir_path}/t", schema, ["repo", "path"], 8, merge_mode="mor"
    )
    seed = spark.createDataFrame(
        [(f"r{i}", f"p{i}", f"c{i}") for i in range(200)],
        "repo string, path string, content string",
    )
    table.overwrite(seed, batch_id="b0")  # base files in every bucket
    one = spark.createDataFrame(
        [("r1", "p1", 999, "U", "new")],
        "repo string, path string, event_seq long, op string, content string",
    )
    ingest_batch(one, table, cfg, "b1")
    table = LakeTable(spark, table.path)  # reload manifest
    delta_buckets = [
        int(b)
        for b, entries in table.manifest["buckets"].items()
        if any(e.get("kind") == "delta" for e in entries)
    ]
    assert len(delta_buckets) == 1  # the single-key batch touched one bucket
    base_bucket = next(
        int(b) for b in table.manifest["buckets"] if int(b) not in delta_buckets
    )

    # a base-only bucket's read has NO aggregate above its scan
    plan_base = plan_of(table.read_internal(buckets=[base_bucket]))
    assert "Aggregate" not in plan_base

    # the full read folds — but only the delta bucket's files feed the
    # aggregate: the base buckets' bytes don't cross the fold shuffle
    full = table.read_internal()
    plan_full = plan_of(full)
    assert "max_by" in plan_full or "Aggregate" in plan_full
    assert plan_full.count("Scan parquet") >= 2  # split read: base ∪ folded(delta)

    # correctness: the merged row wins, everything else intact
    rows = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert rows[("r1", "p1")] == "new"
    assert len(rows) == 200
    # bucket-pruned read of the delta bucket still folds
    plan_delta = plan_of(table.read_internal(buckets=delta_buckets))
    assert "max_by" in plan_delta or "Aggregate" in plan_delta


def test_lww_fetch_prunes_payload_and_broadcasts(spark, tmpdir_path):
    """The fetch fold (fold_changes) must (a) never read payload columns
    in the winner-selection branch — visible as a second scan whose
    ReadSchema excludes content — and (b) join the winner set back with a
    broadcast hash join, never a shuffle of the payload side."""
    from sap_spark.operators.dedup import fold_changes
    from sap_spark.sources.datagen import gen_change_events, write_change_log

    events = gen_change_events(spark, n_events=2000, n_keys=200, events_per_token=500)
    write_change_log(events, f"{tmpdir_path}/log")
    log = spark.read.parquet(f"{tmpdir_path}/log")

    cfg = EngineConfig().validate()
    plan = plan_of(fold_changes(log, cfg))

    assert "BroadcastHashJoin" in plan
    # one scan per branch: the winner branch must NOT read content/commit
    read_schemas = [s.splitlines()[0] for s in plan.split("ReadSchema:")[1:]]
    assert any("content" not in rs and "commit" not in rs for rs in read_schemas), (
        "winner-selection branch reads payload columns:\n" + "\n".join(read_schemas)
    )
    # and the winner aggregation still does map-side partial aggregation
    assert "partial_max" in plan


def test_merge_join_is_hash_not_sort(spark, tmpdir_path):
    """The CDC merge join must be a shuffled-hash (or broadcast) join —
    sort-merge would pay two payload-sized sorts per epoch."""
    from pyspark.sql import types as T
    from sap_spark.plans.lake import LakeTable, bucket_expr
    from sap_spark.schema.compat import apply_cast_plan
    from sap_spark.streaming.pipeline import ingest_batch

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
        ]
    )
    cfg = EngineConfig(payload_columns=("content",), num_buckets=4).validate()
    table = LakeTable.create(spark, f"{tmpdir_path}/t2", schema, ["repo", "path"], 4)
    seed = spark.createDataFrame(
        [(f"r{i}", f"p{i}", 100 + i, "I", f"c{i}") for i in range(300)],
        "repo string, path string, event_seq long, op string, content string",
    )
    ingest_batch(seed, table, cfg, "b0")

    # build the same full-outer merge shape the engine runs
    src = (
        apply_cast_plan(
            seed,
            T.StructType(
                list(schema.fields)
                + [
                    T.StructField("op", T.StringType(), True),
                    T.StructField("event_seq", T.LongType(), True),
                ]
            ),
        ).withColumn("__bucket", bucket_expr(["repo", "path"], 4))
    )
    target = table.read_internal().withColumn(
        "__bucket", bucket_expr(["repo", "path"], 4)
    )
    joined = target.alias("t").join(src.alias("s"), on=["repo", "path"], how="full_outer")
    plan = plan_of(joined)
    assert "SortMergeJoin" not in plan, plan.split("== Physical Plan ==")[-1][:500]


def test_lww_winners_is_hash_aggregate(spark, sf_dir):
    """Regression guard for the fetch fold's phase A: winner selection must
    compile to whole-stage-codegen HashAggregate (primitive long buffer).
    A struct/string agg buffer silently degrades to SortAggregate — the
    dominant non-write epoch cost before the max(event_seq) rewrite."""
    from sap_spark.operators.dedup import lww_winners
    from sap_spark.sources.datagen import gen_change_events

    cfg = EngineConfig().validate()
    ev = gen_change_events(spark, n_events=2000, n_keys=200, events_per_token=1000)
    winners = lww_winners(ev, cfg)
    plan = plan_of(winners)
    agg_section = plan.split("== Physical Plan ==")[-1]
    assert "HashAggregate" in agg_section
    assert "SortAggregate" not in agg_section, (
        "winner selection regressed to SortAggregate:\n" + agg_section[:2000]
    )
    # and the scan never touches payload columns (content/commit pruned)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0] if "ReadSchema:" in plan else ""
    assert "content" not in read_schema


def test_lww_window_salted_prunes_payload_below_sorts(spark, tmpdir_path):
    """The salted window fold (north_star machinery) must never carry
    payload columns through its window sorts: every Sort/Window/Exchange
    node below the payload fetch operates on (key…, event_seq, delta_token)
    only, and the payload join back is a broadcast hash probe."""
    from sap_spark.operators.dedup import lww_window
    from sap_spark.sources.datagen import gen_change_events, write_change_log

    events = gen_change_events(spark, n_events=2000, n_keys=200, events_per_token=500)
    write_change_log(events, f"{tmpdir_path}/wlog")
    log = spark.read.parquet(f"{tmpdir_path}/wlog")

    cfg = EngineConfig().validate()
    plan = plan_of(lww_window(log, cfg))
    physical = plan.split("== Physical Plan ==")[-1]

    # formatted explain: per-node detail sections separated by blank lines
    # window sorts order by event_seq DESC; the (all-ASC, post-fetch) guard
    # sort over O(keys) winner rows legitimately carries payloads
    for section in physical.split("\n\n"):
        header = section.splitlines()[0] if section.strip() else ""
        is_window_sort = ") Sort" in header and "DESC" in section
        if ") Window" in header or is_window_sort:
            assert "content" not in section and "commit" not in section, (
                "payload column below a window sort:\n" + section
            )
    # the winner→payload join is a broadcast probe, not a payload shuffle
    assert "BroadcastHashJoin" in physical
    # the slim branch's scan must not read payload columns
    read_schemas = [s.splitlines()[0] for s in plan.split("ReadSchema:")[1:]]
    assert any("content" not in rs and "commit" not in rs for rs in read_schemas), (
        "window winner branch reads payload columns:\n" + "\n".join(read_schemas)
    )


def test_stats_pruned_read_still_pushes_filters_to_scan(spark, tmpdir_path):
    """read(where=) must stack BOTH skipping layers: manifest bounds
    drop whole files before planning, and the residual post-filter
    reaches the parquet scan as PushedFilters so row groups inside the
    kept files still prune."""
    from pyspark.sql import types as T
    from sap_spark.plans.lake import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    table = LakeTable.create(
        spark, f"{tmpdir_path}/t", schema, ["k"], num_buckets=4,
        stats_columns=["k", "v"],
    )
    table.overwrite(
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        batch_id="b0",
    )
    table = LakeTable(spark, table.path)
    df = table.read(where="k = 7")
    assert len(df.inputFiles()) < len(table.read().inputFiles())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "k" in pushed and "7" in pushed
