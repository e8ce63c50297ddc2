"""TableBackend contract suite (sap_spark/plans/backend.py).

Every backend implementation — today LakeTable in both merge modes,
tomorrow a real Iceberg binding — must pass this suite UNCHANGED: add a
factory to BACKENDS and nothing else. The tests encode the semantic laws
the CDC pipeline relies on (atomic visibility, exactly-once, version
gate, evolution gate, key/bucket stability, maintenance safety), not
LakeTable internals.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.plans.backend import TableBackend
from sap_spark.plans.iceberg_backend import IcebergTable
from sap_spark.plans.lake import LakeTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)


def _lake_factory(merge_mode):
    def make(spark, path, schema=SCHEMA, key_columns=("repo", "path")):
        return LakeTable.create(
            spark, path, schema, key_columns=list(key_columns),
            num_buckets=8, merge_mode=merge_mode,
        )

    return make


def _iceberg_factory(spark, path, schema=SCHEMA, key_columns=("repo", "path")):
    """Iceberg binding (plans/iceberg_backend.py) — runs only where a
    real catalog exists. Point SAP_SPARK_ICEBERG_CATALOG at a configured
    Iceberg catalog name to activate; anywhere else (this sandbox has no
    Iceberg jars) every law records a skip, never a failure."""
    catalog = os.environ.get("SAP_SPARK_ICEBERG_CATALOG")
    if not catalog:
        pytest.skip("SAP_SPARK_ICEBERG_CATALOG not set (no Iceberg jars)")
    if not IcebergTable.available(spark, catalog):
        pytest.skip(f"catalog {catalog!r} not reachable as Iceberg")
    ident = f"{catalog}.sap_spark_contract.t{abs(hash(path)) % 10**9}"
    return IcebergTable.create(
        spark, ident, schema, key_columns=list(key_columns), num_buckets=8
    )


BACKENDS = {
    "lake-cow": _lake_factory("cow"),
    "lake-mor": _lake_factory("mor"),
    "iceberg": _iceberg_factory,
}


@pytest.fixture(params=sorted(BACKENDS), scope="module")
def backend_name(request):
    return request.param


@pytest.fixture
def make_table(spark, tmpdir_path, backend_name):
    counter = [0]

    def make(**kwargs):
        counter[0] += 1
        return BACKENDS[backend_name](
            spark, f"{tmpdir_path}/{backend_name}-{counter[0]}", **kwargs
        )

    return make


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, content string, op string, event_seq long"
    )


def _state(table):
    return {
        (r["repo"], r["path"]): r["content"] for r in table.read().collect()
    }


def test_implements_protocol(make_table):
    assert isinstance(make_table(), TableBackend)


def test_atomic_visibility(spark, make_table):
    table = make_table()
    old = type(table)(spark, table.path, version=table.version)
    table.merge_cdc(_changes(spark, [("r", "a", "v1", "I", 1)]), "b1")
    assert _state(table) == {("r", "a"): "v1"}
    # snapshot isolation: the old handle still reads the old (empty) state
    assert _state(old) == {}
    # a FRESH handle sees the commit (the pointer flip is the publish)
    assert _state(type(table)(spark, table.path)) == {("r", "a"): "v1"}


def test_exactly_once_replay(spark, make_table):
    table = make_table()
    assert table.merge_cdc(_changes(spark, [("r", "a", "v1", "I", 1)]), "b1") is True
    v = table.version
    # replay with the same batch id: no-op, False, version unchanged
    assert (
        table.merge_cdc(_changes(spark, [("r", "a", "OTHER", "U", 99)]), "b1")
        is False
    )
    assert table.version == v
    assert _state(table) == {("r", "a"): "v1"}
    assert "b1" in table.committed_batches()


def test_version_gate_and_tombstones(spark, make_table):
    table = make_table()
    table.merge_cdc(_changes(spark, [("r", "a", "v2", "U", 20)]), "b1")
    # an OLDER event for the same key must not regress the row
    table.merge_cdc(_changes(spark, [("r", "a", "v1", "U", 10)]), "b2")
    assert _state(table) == {("r", "a"): "v2"}
    # delete wins over the stored version…
    table.merge_cdc(_changes(spark, [("r", "a", None, "D", 30)]), "b3")
    assert _state(table) == {}
    # …and its tombstone shields against a stale re-insert
    table.merge_cdc(_changes(spark, [("r", "a", "stale", "I", 25)]), "b4")
    assert _state(table) == {}
    # a genuinely newer insert resurrects the key
    table.merge_cdc(_changes(spark, [("r", "a", "v3", "I", 40)]), "b5")
    assert _state(table) == {("r", "a"): "v3"}


def test_evolution_gate(spark, make_table):
    table = make_table()
    table.merge_cdc(_changes(spark, [("r", "a", "v1", "I", 1)]), "b1")
    # a new nullable column arrives with a later batch: schema evolves,
    # old rows read as null
    widened = spark.createDataFrame(
        [("r", "b", "v1", "py", "U", 2)],
        "repo string, path string, content string, lang string, "
        "op string, event_seq long",
    )
    table.merge_cdc(widened, "b2")
    assert "lang" in [f.name for f in table.schema.fields]
    rows = {(r["repo"], r["path"]): r["lang"] for r in table.read().collect()}
    assert rows == {("r", "a"): None, ("r", "b"): "py"}
    # incompatible drift (string column arriving as long) raises
    bad = spark.createDataFrame(
        [("r", "c", 5, "U", 3)],
        "repo string, path string, content long, op string, event_seq long",
    )
    with pytest.raises(Exception, match="content|incompat|widen"):
        table.merge_cdc(bad, "b3")


def test_type_widening(spark, make_table):
    table = make_table()
    widened_schema = T.StructType(
        list(SCHEMA.fields) + [T.StructField("size", T.IntegerType(), True)]
    )
    assert table.evolve_schema(widened_schema) is True
    assert table.evolve_schema(widened_schema) is False  # idempotent
    wider = T.StructType(
        list(SCHEMA.fields) + [T.StructField("size", T.LongType(), True)]
    )
    assert table.evolve_schema(wider) is True  # int → long widens
    assert dict(
        (f.name, f.dataType) for f in table.schema.fields
    )["size"] == T.LongType()


def test_bucket_stability(spark, make_table):
    table = make_table()
    batch = _changes(
        spark, [(f"r{i}", f"p{i}", "c", "I", i + 1) for i in range(50)]
    )
    offsets = table.affected_bucket_offsets(batch, seq_column="event_seq")
    affected = sorted(offsets)
    # the key set is exactly the bucket set the batch's keys hash to
    hashed = batch.select(
        bucket_expr(["repo", "path"], table.num_buckets).alias("b")
    )
    assert set(affected) == {r["b"] for r in hashed.collect()}
    assert all(0 <= b < table.num_buckets for b in affected)
    # one offset row per key, each bucket's high-water its max seq
    assert sum(o["n_rows"] for o in offsets.values()) == 50
    by_bucket = batch.groupBy(
        bucket_expr(["repo", "path"], table.num_buckets).alias("b")
    ).agg(F.max("event_seq").alias("m"))
    assert {r["b"]: r["m"] for r in by_bucket.collect()} == {
        b: o["max_seq"] for b, o in offsets.items()
    }
    # deterministic: same keys, same buckets
    assert offsets == table.affected_bucket_offsets(batch, seq_column="event_seq")
    # merging with the precomputed set equals merging without it
    table.merge_cdc(batch, "b1", affected_buckets=affected)
    assert len(_state(table)) == 50

    # a feed typed narrower than the table (int keys, bigint key column)
    # places each key where the same keys typed bigint already live: an
    # upsert through it updates every stored key, never adds a second row
    wide = make_table(
        schema=T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("content", T.StringType(), True),
            ]
        ),
        key_columns=["id"],
    )
    for batch_id, key_type, content, seq in (
        ("n1", "bigint", "c", 1), ("n2", "int", "d", 101)
    ):
        feed = spark.createDataFrame(
            [(i, content, "U", seq + i) for i in range(50)],
            f"id {key_type}, content string, op string, event_seq long",
        )
        offsets = wide.affected_bucket_offsets(feed, seq_column="event_seq")
        at_key_type = feed.select(
            bucket_expr([F.col("id").cast("bigint")], wide.num_buckets).alias("b")
        )
        assert set(offsets) == {r["b"] for r in at_key_type.collect()}
        assert wide.merge_cdc(feed, batch_id, affected_buckets=sorted(offsets))
    assert sorted((r["id"], r["content"]) for r in wide.read().collect()) == [
        (i, "d") for i in range(50)
    ]


def test_maintenance_preserves_state(spark, make_table):
    table = make_table()
    table.merge_cdc(
        _changes(spark, [(f"r{i}", f"p{i}", f"c{i}", "I", i + 1) for i in range(30)]),
        "b1",
    )
    table.merge_cdc(
        _changes(spark, [("r1", "p1", None, "D", 100), ("r2", "p2", "new", "U", 101)]),
        "b2",
    )
    before = _state(table)
    table.compact()
    assert _state(table) == before
    table.expire_snapshots(keep_last=1)
    fresh = type(table)(table.read().sparkSession, table.path)
    assert _state(fresh) == before
    assert "b2" in fresh.committed_batches()  # exactly-once survives expiry


def test_change_feed_reproduces_transitions(spark, make_table):
    table = make_table()
    table.merge_cdc(
        _changes(spark, [(f"r{i}", f"p{i}", f"c{i}", "I", i + 1) for i in range(20)]),
        "b1",
    )
    v1 = table.version
    table.merge_cdc(
        _changes(
            spark,
            [
                ("r1", "p1", "updated", "U", 100),
                ("r2", "p2", None, "D", 101),
                ("rN", "pN", "inserted", "I", 102),
            ],
        ),
        "b2",
    )
    feed = table.changes_between(v1)
    got = {
        (r["repo"], r["path"]): (r["op"], r["content"]) for r in feed.collect()
    }
    assert got == {
        ("r1", "p1"): ("U", "updated"),
        ("r2", "p2"): ("D", None),
        ("rN", "pN"): ("I", "inserted"),
    }
    # applying the feed to a replica of the v1 image reproduces v2
    replica = type(table)(spark, table.path, version=v1).read()
    target = BACKENDS["lake-cow"](spark, f"{table.path}-replica")
    target.overwrite(replica, batch_id="seed")
    target.merge_cdc(feed.withColumn("event_seq", F.lit(1)), "feed")
    assert _state(target) == _state(table)


def test_history_chain(spark, make_table):
    table = make_table()
    table.merge_cdc(_changes(spark, [("r", "a", "v1", "I", 1)]), "b1")
    table.merge_cdc(_changes(spark, [("r", "a", "v2", "U", 2)]), "b2")
    h = table.history()
    assert [e["version"] for e in h] == sorted(
        (e["version"] for e in h), reverse=True
    )
    assert h[0]["version"] == table.version
    assert h[-1]["parent"] is None


def test_predicate_read_identity(spark, make_table):
    """Law 8: read(where=p) == read().where(p) for every predicate —
    whatever file/bucket skipping the backend's statistics drive must
    be invisible in the result set."""
    table = make_table()
    table.merge_cdc(
        _changes(
            spark,
            [(f"r{i % 5}", f"p{i}", f"v{i}", "I", i) for i in range(40)],
        ),
        "b1",
    )
    table.merge_cdc(
        _changes(
            spark,
            [("r0", "p0", "v0-new", "U", 100), ("r1", "p6", None, "D", 101)],
        ),
        "b2",
    )
    table = type(table)(spark, table.path)
    for where in (
        "repo = 'r0'",                      # key equality (bucket prune)
        "repo = 'r0' AND path = 'p0'",      # full point lookup
        "repo IN ('r0', 'r3') AND path IN ('p0', 'p3')",  # point-in-set
        "content = 'v0-new'",               # non-key (MOR fold safety)
        "content IN ('v2', 'v0-new')",      # non-key IN (bloom/nulls path)
        "content IS NULL",                  # tombstone-adjacent shape
        "content IS NOT NULL AND repo = 'r2'",
        "content >= 'v3' AND repo = 'r2'",
        "repo = 'r1' OR content = 'v7'",    # no pruning possible
        "length(content) > 2",              # not a prunable shape
    ):
        got = sorted(map(tuple, table.read(where=where).collect()))
        expect = sorted(map(tuple, table.read().where(where).collect()))
        assert got == expect, where


def test_rebucket_layout_evolution(spark, make_table):
    """Law 9: rebucket(M) — the partition-spec-evolution analog — is a
    pure LAYOUT change: the read image is untouched, exactly-once and
    the version gate survive, and every later write/point-read routes
    by the new count. The count a table is created with is sized for
    day-one data; at 10^10 rows it must be changeable without a
    migration."""
    table = make_table()
    table.merge_cdc(
        _changes(
            spark, [(f"r{i % 5}", f"p{i}", f"v{i}", "I", i + 1) for i in range(30)]
        ),
        "b1",
    )
    table.merge_cdc(
        _changes(spark, [("r0", "p0", None, "D", 100), ("r1", "p1", "new", "U", 101)]),
        "b2",
    )
    before = _state(table)

    table.rebucket(19)  # deliberately not a multiple of the old count

    assert table.num_buckets == 19
    assert _state(table) == before
    # exactly-once memory survives the reshard
    assert table.merge_cdc(_changes(spark, [("x", "y", "z", "I", 1)]), "b2") is False
    # the version gate survives: a stale event below the tombstone's seq
    table.merge_cdc(_changes(spark, [("r0", "p0", "stale", "I", 50)]), "b3")
    assert ("r0", "p0") not in _state(table)
    # new writes route by the new count and point reads find them
    table.merge_cdc(_changes(spark, [("r9", "p9", "fresh", "I", 200)]), "b4")
    got = table.read(where="repo = 'r9' AND path = 'p9'").collect()
    assert [(r["repo"], r["path"], r["content"]) for r in got] == [("r9", "p9", "fresh")]
    # affected_bucket_offsets speaks the new numbering
    bs = table.affected_bucket_offsets(_changes(spark, [("r9", "p9", "x", "U", 1)]))
    assert bs and all(0 <= b < 19 for b in bs)
