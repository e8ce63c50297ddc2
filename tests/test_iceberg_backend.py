"""Iceberg binding (plans/iceberg_backend.py) — in-sandbox surface.

The sandbox has no Iceberg jars, so the binding's catalog-touching laws
run (or skip) through the contract suite; what CAN be pinned here is the
part that actually encodes the semantics: the SQL/DDL the binding emits.
Every law that compiles to a statement has its statement asserted, so
the binding cannot silently drift from the LakeTable semantics it
mirrors (version-gate guard, tombstones-not-deletes, partition-pruned
merge, WAP publish, evolution lattice DDL).
"""

from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.plans.iceberg_backend import (
    IcebergTable,
    _q,
    _sql_create_table,
    _sql_expire_snapshots,
    _sql_merge,
    _sql_publish,
    _sql_rebucket,
    _sql_rewrite_data_files,
    _sql_set_property,
    evolution_ddl,
)
from sap_spark.schema.compat import SchemaCompatError, plan_evolution

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)
TABLE = "ice.cdc.repos"
KEYS = ["repo", "path"]


def test_identifier_quoting_rejects_injection():
    with pytest.raises(ValueError, match="invalid identifier"):
        _q("a;DROP TABLE t")
    with pytest.raises(ValueError, match="invalid identifier"):
        _q("a b")
    assert _q("repo_1") == "`repo_1`"


def test_create_table_ddl():
    sql = _sql_create_table(TABLE, SCHEMA, KEYS, num_buckets=64)
    # identity(_bucket) partitioning carries the engine hash (law 5)
    assert "PARTITIONED BY (`_bucket`)" in sql
    assert "USING iceberg" in sql
    # v2 + WAP are load-bearing: row-level merge deletes and the
    # commit-marker publish flow (law 2)
    assert "'format-version'='2'" in sql
    assert "'write.wap.enabled'='true'" in sql
    assert "'sap_spark.num-buckets'='64'" in sql
    assert '"repo", "path"' in sql or '["repo", "path"]' in sql
    # key columns keep their NOT NULL facet
    assert "`repo` string NOT NULL" in sql
    assert "`content` string," in sql  # nullable stays plain
    # internal columns present
    for c in ("`_seq` bigint NOT NULL", "`_deleted` boolean NOT NULL",
              "`_bucket` int NOT NULL"):
        assert c in sql


def test_create_table_rejects_bad_keys():
    with pytest.raises(ValueError, match="key column"):
        _sql_create_table(TABLE, SCHEMA, ["nope"], 8)


def test_merge_sql_version_gate_and_tombstones():
    sql = _sql_merge(
        TABLE, "src_v", KEYS,
        ["repo", "path", "commit", "lang", "content"],
        affected_buckets=[3, 1, 3],
    )
    # law 3: only strictly newer events touch the row
    assert "WHEN MATCHED AND s.`_seq` > t.`_seq` THEN UPDATE" in sql
    # deletes are tombstone UPDATEs, never MERGE DELETE (stale-shield)
    assert "DELETE" not in sql
    assert "t.`_deleted` = s.`_deleted`" in sql
    # law 5: literal IN over the identity partition column, deduped+sorted
    assert "t.`_bucket` IN (1, 3)" in sql
    assert sql.count("IN (") == 1
    # full-key equi-join
    assert "t.`repo` = s.`repo` AND t.`path` = s.`path`" in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql


def test_merge_sql_without_bucket_pruning():
    sql = _sql_merge(TABLE, "src_v", KEYS, ["repo", "path", "content"], None)
    assert "`_bucket` IN" not in sql
    with pytest.raises(ValueError, match="non-empty"):
        _sql_merge(TABLE, "src_v", KEYS, ["repo"], [])


def test_wap_publish_and_maintenance_calls():
    assert (
        _sql_publish("ice", "cdc.repos", "epoch-7")
        == "CALL `ice`.system.publish_changes(table => 'cdc.repos', "
        "wap_id => 'epoch-7')"
    )
    assert "rewrite_data_files(table => 'cdc.repos')" in (
        _sql_rewrite_data_files("ice", "cdc.repos")
    )
    assert "retain_last => 3" in _sql_expire_snapshots("ice", "cdc.repos", 3)


def test_rebucket_sql_matches_engine_hash():
    """Law 9's statement: the UPDATE must route with the character-
    identical expression lake.bucket_expr compiles to, or the two
    backends would disagree about where a key lives after a reshard."""
    sql = _sql_rebucket(TABLE, KEYS, 19)
    assert sql == (
        "UPDATE `ice`.`cdc`.`repos` SET `_bucket` = "
        "CAST(pmod(xxhash64(`repo`, `path`), 19) AS INT)"
    )


@pytest.mark.parametrize(
    "ddl, rows",
    [
        ("k int", [(0,), (1,), (-7,), (2**31 - 1,), (None,)]),
        ("k bigint", [(0,), (1,), (-7,), (2**40,)]),
        ("k string", [("",), ("a",), ("A",), ("01",)]),
        ("k decimal(10,2)", [(Decimal(v),) for v in ("0.00", "1.10", "-3.25")]),
        ("k1 string, k2 int", [("a", 1), ("a", 2), ("b", 1), ("", -1)]),
    ],
)
def test_rebucket_sql_places_keys_like_key_bucket(spark, ddl, rows):
    """Law 9 by value: the UPDATE's SQL spelling of the hash, evaluated
    over stored key columns, gives every row the bucket lake.key_bucket
    gives it, so a reshard leaves each key where both backends route it."""
    from sap_spark.plans.lake import key_bucket

    frame = spark.createDataFrame(rows, ddl)
    keys = frame.columns
    for n in (8, 19):
        expr = _sql_rebucket(TABLE, keys, n).split(" = ", 1)[1]
        got = frame.select(
            F.expr(expr).alias("sql"),
            key_bucket(frame.schema.fields, n).alias("rule"),
        ).collect()
        assert [r["sql"] for r in got] == [r["rule"] for r in got]


def test_set_property_escapes_quotes():
    sql = _sql_set_property(TABLE, "k", "it's")
    assert "'it''s'" in sql


def test_evolution_ddl_matches_compat_lattice():
    current = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("size", T.IntegerType(), True),
        ]
    )
    incoming = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("size", T.LongType(), True),  # widen int→long
            T.StructField("lang", T.StringType(), True),  # add
        ]
    )
    stmts = evolution_ddl(TABLE, plan_evolution(current, incoming))
    assert stmts == [
        "ALTER TABLE `ice`.`cdc`.`repos` ADD COLUMNS (`lang` string)",
        "ALTER TABLE `ice`.`cdc`.`repos` ALTER COLUMN `size` TYPE bigint",
    ]
    # narrower incoming is read-time cast-up, no DDL (same as LakeTable)
    assert evolution_ddl(
        TABLE,
        plan_evolution(
            T.StructType([T.StructField("size", T.LongType(), True)]),
            T.StructType([T.StructField("size", T.IntegerType(), True)]),
        ),
    ) == []
    # the gate itself still rejects incompatible drift — no DDL built
    with pytest.raises(SchemaCompatError):
        plan_evolution(
            T.StructType([T.StructField("size", T.StringType(), True)]),
            T.StructType([T.StructField("size", T.LongType(), True)]),
        )


def test_availability_false_without_catalog(spark):
    assert IcebergTable.available(spark, "no_such_catalog") is False


def test_constructor_rejects_non_identifier_path(spark):
    with pytest.raises(ValueError, match="catalog.namespace.table"):
        IcebergTable(spark, "/some/fs/path")


def test_constructor_rejects_negative_version(spark):
    # negative versions would silently pin the wrong snapshot via Python
    # negative indexing into the ancestry list
    with pytest.raises(ValueError, match="outside"):
        IcebergTable(spark, "ice.cdc.nope", version=-1)


def test_rebucket_pending_marker_protocol():
    """The UPDATE and the property flip are two catalog commits; the
    pending marker makes the crash window between them detectable and
    repairable instead of silently duplicate-inserting on merge."""
    from sap_spark.plans.iceberg_backend import (
        PROP_BUCKETS,
        PROP_REBUCKET_PENDING,
        _sql_unset_property,
    )

    assert _sql_unset_property(TABLE, PROP_REBUCKET_PENDING) == (
        "ALTER TABLE `ice`.`cdc`.`repos` UNSET TBLPROPERTIES "
        "('sap_spark.rebucket-pending')"
    )
    t = IcebergTable.__new__(IcebergTable)
    t.path = TABLE
    t._props = {PROP_BUCKETS: "8", PROP_REBUCKET_PENDING: "32"}
    with pytest.raises(RuntimeError, match="interrupted rebucket"):
        t.num_buckets
    # a DIFFERENT target must not paper over the half-done reshard
    with pytest.raises(RuntimeError, match=r"rebucket\(32\)"):
        t.rebucket(16)
    # without a pending marker, a same-count call is the usual error
    t2 = IcebergTable.__new__(IcebergTable)
    t2.path = TABLE
    t2._props = {PROP_BUCKETS: "8"}
    with pytest.raises(ValueError, match="already has 8"):
        t2.rebucket(8)


def test_rewrite_data_files_zorder_sql():
    from sap_spark.plans.iceberg_backend import _sql_rewrite_data_files

    assert _sql_rewrite_data_files("ice", "cdc.repos", ["lang", "path"]) == (
        "CALL `ice`.system.rewrite_data_files(table => 'cdc.repos', "
        "strategy => 'sort', sort_order => 'zorder(lang, path)')"
    )
    with pytest.raises(ValueError, match="invalid identifier"):
        _sql_rewrite_data_files("ice", "cdc.repos", ["x; DROP TABLE t"])
