"""Point-lookup key routing (LakeTable._buckets_for_key_combos).

Routing hashes the pinned key literals with the write path's own
``bucket_expr``, constant-folded on the driver. The oracle below is the
route it replaced: the same expression over a ``createDataFrame`` of the
combos, ``distinct().collect()``-ed by two Spark jobs. Both must name the
same buckets, and planning a pinned read must launch no Spark job.
"""

from __future__ import annotations

import glob
import os
from datetime import date
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.plans.lake import LakeTable, bucket_expr
from sap_spark.plans.stats import key_membership_literals, parse_conjuncts

RAISED = "raised"


def _oracle(table, combos):
    """The createDataFrame route: sorted distinct buckets, or RAISED."""
    key_fields = [f for f in table.schema.fields if f.name in table.key_columns]
    try:
        rows = [tuple(c[f.name] for f in key_fields) for c in combos]
        df = table.spark.createDataFrame(rows, T.StructType(key_fields))
        got = (
            df.select(bucket_expr(table.key_columns, table.num_buckets).alias("b"))
            .distinct()
            .collect()
        )
    except Exception:  # noqa: BLE001 — any failure is the oracle's "no route"
        return RAISED
    return sorted(int(r["b"]) for r in got)


def _table(spark, path, key_types, key_columns=None, num_buckets=16):
    fields = [T.StructField(n, dt) for n, dt in key_types]
    schema = T.StructType(fields + [T.StructField("v", T.StringType())])
    return LakeTable.create(
        spark,
        path,
        schema,
        key_columns=key_columns or [n for n, _ in key_types],
        num_buckets=num_buckets,
    )


def _combos(table, where):
    conjuncts = parse_conjuncts(table.spark, where)
    return key_membership_literals(conjuncts, table.key_columns)


def _new_jobs(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = fn()
    return out, set(tracker.getJobIdsForGroup()) - before


@pytest.mark.parametrize(
    "key_types, wheres",
    [
        (
            [("k", T.StringType())],
            ["k = 'a'", "k IN ('a', 'b', 'zz', '')", "k IN ('a', NULL)"],
        ),
        (
            [("k", T.IntegerType())],
            ["k = 7", "k IN (-1, 0, 7, 2147483647)", "k IN (3, NULL)"],
        ),
        (
            [("k", T.LongType())],
            ["k = 1099511627776", "k IN (1, 9223372036854775807)", "k IN (5, NULL)"],
        ),
        (
            [("k", T.DecimalType(10, 2))],
            ["k = 1.50", "k IN (0.01, 12345678.99, -3.10)", "k IN (2.25, NULL)"],
        ),
        (
            [("s", T.StringType()), ("n", T.IntegerType())],
            [
                "s = 'x' AND n = 3",
                "s IN ('x', 'y') AND n IN (1, 2, 3)",
                "s IN ('x', NULL) AND n = 4",
            ],
        ),
    ],
    ids=["string", "int", "bigint", "decimal", "string_int"],
)
def test_routing_matches_createdataframe_oracle(spark, tmp_path, key_types, wheres):
    table = _table(spark, str(tmp_path / "t"), key_types)
    for where in wheres:
        combos = _combos(table, where)
        assert combos, where
        want = _oracle(table, combos)
        assert want != RAISED, where
        got, jobs = _new_jobs(spark, lambda c=combos: table._buckets_for_key_combos(c))
        assert got == want, where
        assert jobs == set(), where


def test_routing_hashes_in_key_column_order(spark, tmp_path):
    """The hash follows key_columns order, not schema order."""
    table = _table(
        spark,
        str(tmp_path / "t"),
        [("s", T.StringType()), ("n", T.IntegerType())],
        key_columns=["n", "s"],
    )
    combos = _combos(table, "s IN ('x', 'y', 'z') AND n IN (1, 2)")
    assert table._buckets_for_key_combos(combos) == _oracle(table, combos)


@pytest.mark.parametrize(
    "key_type, bad, good",
    [
        (T.IntegerType(), 1 << 40, 1),  # out of int range
        (T.DateType(), "2024-01-01", date(2024, 1, 1)),  # string on a date key
        (T.DecimalType(10, 2), Decimal("123456789012.5"), Decimal("1.00")),
        (T.DecimalType(10, 2), 1.5, Decimal("1.50")),  # float on a decimal key
    ],
    ids=["int_out_of_range", "string_on_date", "decimal_overflow", "float_on_decimal"],
)
def test_mistyped_literal_routes_nowhere_where_oracle_raised(
    spark, tmp_path, key_type, bad, good
):
    table = _table(spark, str(tmp_path / "t"), [("k", key_type)])
    assert _oracle(table, [{"k": bad}]) == RAISED
    assert table._buckets_for_key_combos([{"k": bad}]) is None
    assert table._buckets_for_key_combos([{"k": good}]) == _oracle(table, [{"k": good}])
    # a well-typed combo next to the bad one cannot rescue the route
    assert table._buckets_for_key_combos([{"k": good}, {"k": bad}]) is None


def test_int_literal_on_string_key_reads_every_bucket(spark, tmp_path):
    """The oracle accepts an int for a string key (PySpark's verifier
    takes any object for a string field) and routes ``cast(1 AS string)``.
    Spark compares ``k = 1`` numerically, so ``'01'`` matches as well and
    lives in another bucket: routing such a literal must read them all."""
    table = _table(spark, str(tmp_path / "t"), [("k", T.StringType())], num_buckets=8)
    assert _oracle(table, [{"k": 1}]) != RAISED
    assert table._buckets_for_key_combos([{"k": 1}]) is None
    assert table._buckets_for_key_combos([{"k": "1"}]) is not None
    rows = [(f"{i:02d}", str(i)) for i in range(20)] + [("1", "one")]
    table.overwrite(spark.createDataFrame(rows, table.schema), batch_id="b0")
    table = LakeTable(spark, table.path)
    got = sorted(r["v"] for r in table.read(where="k = 1").collect())
    assert got == sorted(r["v"] for r in table.read().where("k = 1").collect())
    assert got == ["1", "one"]


def test_written_rows_land_in_routed_bucket(spark, tmp_path):
    table = _table(
        spark,
        str(tmp_path / "t"),
        [("s", T.StringType()), ("n", T.IntegerType())],
        num_buckets=8,
    )
    rows = spark.range(300).select(
        F.concat(F.lit("s"), (F.col("id") % 13).cast("string")).alias("s"),
        F.col("id").cast("int").alias("n"),
        F.lit("v").alias("v"),
    )
    table.overwrite(rows, batch_id="b0")
    table = LakeTable(spark, table.path)
    landed = {}
    for b, entries in table.manifest["buckets"].items():
        paths = [e["path"] for e in entries]
        assert all(f"{os.sep}__bucket={b}{os.sep}" in p for p in paths)
        for r in spark.read.parquet(*paths).select("s", "n").collect():
            landed[(r["s"], r["n"])] = int(b)
    assert len(landed) == 300
    for s, n in sorted(landed)[::17]:
        assert table._buckets_for_key_combos([{"s": s, "n": n}]) == [landed[(s, n)]]
    # the bucket directories on disk are the manifest's
    on_disk = {
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(os.path.join(table.path, "data", "*", "__bucket=*"))
    }
    assert on_disk == set(table.manifest["buckets"])


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_point_lookup_plans_without_spark_job(spark, tmp_path, merge_mode):
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("v", T.StringType()),
        ]
    )
    table = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        schema,
        key_columns=["repo", "path"],
        num_buckets=8,
        merge_mode=merge_mode,
    )
    rows = [(f"r{i % 5}", f"p{i}", f"v{i}") for i in range(100)]
    table.overwrite(spark.createDataFrame(rows, schema), batch_id="b0")
    changes = spark.createDataFrame(
        [("r3", "p3", "new", "U", 10), ("r4", "p4", None, "D", 11)],
        "repo string, path string, v string, op string, event_seq long",
    )
    LakeTable(spark, table.path).merge_cdc(changes, "b1")
    table = LakeTable(spark, table.path)
    if merge_mode == "mor":
        assert table.delta_file_counts()
    for where, want in [
        ("repo = 'r3' AND path = 'p3'", [("r3", "p3", "new")]),
        ("repo = 'r4' AND path = 'p4'", []),
        ("repo IN ('r1', 'r2') AND path IN ('p1', 'p2', 'p7')", [
            ("r1", "p1", "v1"), ("r2", "p2", "v2"), ("r2", "p7", "v7"),
        ]),
    ]:
        df, jobs = _new_jobs(spark, lambda w=where: table.read(where=w))
        assert jobs == set(), where
        got = sorted(tuple(r) for r in df.collect())
        assert got == want, where
        assert len(df.inputFiles()) < len(table.read().inputFiles())
