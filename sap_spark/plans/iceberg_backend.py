"""IcebergTable — the TableBackend contract bound to a real Iceberg catalog.

``LakeTable`` (plans/lake.py) proves the CDC sink contract over local
parquet + JSON manifests; this module binds the SAME contract
(plans/backend.py, laws 1-9: the 1-7 mapping below, plus law 8 —
``read(where=)`` applies the predicate over the snapshot read, with
Iceberg's own manifest min/max skipping as the stats layer — and law 9
via :meth:`rebucket`'s pending-marker bracket) to Apache Iceberg, so a
deployment with Iceberg jars on the classpath swaps backends without
touching the pipeline layer. It generalizes the reference's sink step —
the CDAP plugin's pass-through ``emit`` (reference
``SapODataSource.java:120-124``) plus its schema-compat gate
(``SapODataConfig.java:262-298``) — into transactional MERGE semantics,
exactly as the north rule requires ("lake upsert, schema evolution,
exactly-once sink ... over Iceberg tables").

Law → Iceberg mapping (law numbers from plans/backend.py):

1. **atomic visibility** — every mutation is one Iceberg commit (atomic
   metadata-pointer swap in the catalog). Old handles pin their snapshot
   (`VERSION AS OF`), fresh handles read the new current snapshot.
2. **exactly-once** — Iceberg's Write-Audit-Publish flow is the
   commit-marker analog of LakeTable's ``_commits/<batch>.json``:
   ``spark.wap.id = <batch_id>`` stamps the staged snapshot,
   ``CALL <cat>.system.publish_changes`` makes it current, and a batch id
   already present in the current ancestry (``<table>.snapshots`` summary
   ``wap.id``) short-circuits to a no-op. A crash between MERGE and
   publish leaves only a staged (invisible) snapshot; the retry re-merges
   and publishes — same recovery story as an unpublished manifest.
3. **version gate / tombstones** — rows carry ``_seq`` (event_seq of the
   winning change) and ``_deleted``; the MERGE's ``WHEN MATCHED AND
   s._seq > t._seq`` guard refuses regressions and deletes write
   tombstone rows that shield against stale re-inserts. ``read()``
   filters tombstones out. Identical semantics to LakeTable
   (lake.py:393-474), expressed as one ``MERGE INTO``.
4. **evolution gate** — the SAME planner (schema/compat.plan_evolution,
   reference rules C4) decides; application is DDL: ``ALTER TABLE ...
   ADD COLUMNS`` / ``ALTER COLUMN ... TYPE`` (Iceberg allows exactly the
   widenings the plugin's lattice allows: int→long, float→double).
5. **key stability** — the table carries an explicit ``_bucket`` column,
   partitioned ``identity(_bucket)``, from the placement rule both
   backends share (lake.key_bucket): keys hash at the table's key types,
   not the feed's (Iceberg's bucket transform hashes ints as longs for
   the same reason), so ``affected_bucket_offsets`` is byte-identical
   between backends even for a narrower-typed feed, and the MERGE's
   ``t._bucket IN (...)`` predicate gives Iceberg partition pruning on
   the target scan (the documented merge-pruning idiom).
6. **maintenance safety** — ``compact`` = ``CALL system.rewrite_data_files``
   (+ optional tombstone purge, a checkpoint-barrier op exactly like
   LakeTable.compact); ``expire_snapshots`` = ``CALL
   system.expire_snapshots`` after mirroring ancestry batch ids into a
   table property so law 2 survives summary loss (LakeTable's
   suffix-key expiry analog).
7. **change-feed fidelity** — ``changes_between`` runs the engine's own
   snapshot-diff operator (operators/snapshot.py) over two time-travel
   images; ``CALL system.create_changelog_view`` is the
   incremental-metadata alternative for production use.

Availability is environment-gated: the sandbox has no Iceberg jars, so
``IcebergTable.available(spark)`` returns False here and the contract
suite records skips, not failures. All SQL/DDL is built by pure
``_sql_*`` functions that ARE unit-tested in-sandbox
(tests/test_iceberg_backend.py) so the binding cannot rot silently.
"""

from __future__ import annotations

import json
import re
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.schema.compat import (
    EvolutionPlan,
    apply_cast_plan,
    plan_evolution,
    validate_schema_types,
)
from sap_spark.plans.lake import (
    DEFAULT_BATCH_LEDGER_RETENTION,
    arrow_frame,
    bucket_offsets,
    key_bucket,
    refuse_key_widening,
)

if TYPE_CHECKING:
    import pyarrow as pa

# Internal (non-user) columns, same names and meaning as LakeTable.
SEQ_COL = "_seq"
DELETED_COL = "_deleted"
BUCKET_COL = "_bucket"
INTERNAL_COLS = (SEQ_COL, DELETED_COL, BUCKET_COL)

# Table properties the binding owns.
PROP_KEYS = "sap_spark.key-columns"          # JSON list of key column names
PROP_BUCKETS = "sap_spark.num-buckets"       # int
PROP_BATCHES = "sap_spark.expired-batches"   # JSON list: batch ids whose
#   snapshots were expired — unioned with live ancestry wap.ids (law 2).
PROP_REBUCKET_PENDING = "sap_spark.rebucket-pending"  # int: target count of
#   an in-flight rebucket — set before the row UPDATE, cleared after the
#   num-buckets flip, so a crash between the two commits is detectable
#   (num_buckets then refuses to answer until the rebucket is re-run).
PROP_LEDGER_RETENTION = "sap_spark.batch-ledger-retention"  # int, or the
#   string "none" for unbounded — most-recent batch ids kept in the
#   expired-batches mirror (LakeTable.batch_ledger_retention parity;
#   engine-produced replays sit within a handful of epochs of the head).

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _q(ident: str) -> str:
    """Quote one identifier part with backticks (reject junk loudly)."""
    if not _IDENT_RE.match(ident):
        raise ValueError(f"invalid identifier part: {ident!r}")
    return f"`{ident}`"


def _qname(table: str) -> str:
    """Quote a dotted table identifier `cat`.`db`.`t`."""
    return ".".join(_q(p) for p in table.split("."))


def _spark_ddl(dt: T.DataType) -> str:
    return dt.simpleString()


# --------------------------------------------------------------------------
# Pure SQL builders — unit-tested without a catalog.
# --------------------------------------------------------------------------

def _sql_create_table(
    table: str,
    schema: T.StructType,
    key_columns: list[str],
    num_buckets: int,
) -> str:
    """CREATE TABLE with internal columns, identity(_bucket) partitioning,
    format-version 2 (required for row-level MERGE deletes) and WAP
    enabled (law 2)."""
    validate_schema_types(schema)
    for k in key_columns:
        if k not in schema.fieldNames():
            raise ValueError(f"key column {k!r} not in schema")
    cols = ", ".join(
        f"{_q(f.name)} {_spark_ddl(f.dataType)}"
        + ("" if f.nullable else " NOT NULL")
        for f in schema.fields
    )
    internal = (
        f"{_q(SEQ_COL)} bigint NOT NULL, "
        f"{_q(DELETED_COL)} boolean NOT NULL, "
        f"{_q(BUCKET_COL)} int NOT NULL"
    )
    props = {
        "format-version": "2",
        "write.wap.enabled": "true",
        "write.merge.mode": "merge-on-read",
        "write.distribution-mode": "hash",
        PROP_KEYS: json.dumps(key_columns),
        PROP_BUCKETS: str(num_buckets),
        PROP_BATCHES: "[]",
    }
    props_sql = ", ".join(f"'{k}'='{v}'" for k, v in sorted(props.items()))
    return (
        f"CREATE TABLE {_qname(table)} ({cols}, {internal}) "
        f"USING iceberg PARTITIONED BY ({_q(BUCKET_COL)}) "
        f"TBLPROPERTIES ({props_sql})"
    )


def _sql_merge(
    table: str,
    source_view: str,
    key_columns: list[str],
    user_columns: list[str],
    affected_buckets: list[int] | None,
) -> str:
    """The one-statement LWW upsert (laws 1+3).

    The source view already holds ONE winning change per key (the
    pipeline's payload-pruned LWW fold, operators/dedup.py) with columns
    ``<user...>, _seq, _deleted, _bucket``. Deletes UPDATE into
    tombstones rather than DELETE so stale re-inserts stay shielded —
    identical to LakeTable's fold semantics (lake.py:408)."""
    t, s = "t", "s"
    on = " AND ".join(
        f"{t}.{_q(k)} = {s}.{_q(k)}" for k in key_columns
    )
    # Partition-pruned target scan: Iceberg prunes identity(_bucket)
    # partitions from this literal IN-list (law 5 / merge-pruning idiom).
    if affected_buckets is not None:
        if not affected_buckets:
            raise ValueError("affected_buckets must be non-empty when given")
        on += f" AND {t}.{_q(BUCKET_COL)} IN ({', '.join(map(str, sorted(set(affected_buckets))))})"
    sets = ", ".join(
        f"{t}.{_q(c)} = {s}.{_q(c)}"
        for c in [*user_columns, SEQ_COL, DELETED_COL]
    )
    all_cols = [*user_columns, SEQ_COL, DELETED_COL, BUCKET_COL]
    ins_cols = ", ".join(_q(c) for c in all_cols)
    ins_vals = ", ".join(f"{s}.{_q(c)}" for c in all_cols)
    return (
        f"MERGE INTO {_qname(table)} {t} USING {_q(source_view)} {s} ON {on} "
        # version gate: only strictly newer events touch the row (law 3)
        f"WHEN MATCHED AND {s}.{_q(SEQ_COL)} > {t}.{_q(SEQ_COL)} THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def _sql_publish(catalog: str, db_table: str, batch_id: str) -> str:
    """WAP publish — the atomic commit-marker flip (law 2)."""
    return (
        f"CALL {_q(catalog)}.system.publish_changes("
        f"table => '{db_table}', wap_id => '{batch_id}')"
    )


def _sql_add_columns(table: str, fields: list[T.StructField]) -> str:
    cols = ", ".join(f"{_q(f.name)} {_spark_ddl(f.dataType)}" for f in fields)
    return f"ALTER TABLE {_qname(table)} ADD COLUMNS ({cols})"


def _sql_widen_column(table: str, name: str, dt: T.DataType) -> str:
    return (
        f"ALTER TABLE {_qname(table)} ALTER COLUMN {_q(name)} "
        f"TYPE {_spark_ddl(dt)}"
    )


def _sql_rewrite_data_files(
    catalog: str, db_table: str, zorder: "list[str] | None" = None
) -> str:
    if zorder:
        for c in zorder:
            _q(c)  # identifier validation; zorder(...) takes bare names
        cols = ", ".join(zorder)
        return (
            f"CALL {_q(catalog)}.system.rewrite_data_files("
            f"table => '{db_table}', strategy => 'sort', "
            f"sort_order => 'zorder({cols})')"
        )
    return (
        f"CALL {_q(catalog)}.system.rewrite_data_files(table => '{db_table}')"
    )


def _sql_expire_snapshots(catalog: str, db_table: str, keep_last: int) -> str:
    return (
        f"CALL {_q(catalog)}.system.expire_snapshots("
        f"table => '{db_table}', retain_last => {int(keep_last)})"
    )


def _sql_rebucket(table: str, key_columns: list[str], new_num_buckets: int) -> str:
    """Reroute every row's identity ``_bucket`` under the new count.
    Because the table is ``PARTITIONED BY (_bucket)`` (identity), the
    UPDATE moves rows across partitions in one Iceberg transaction —
    the engine-side analog of ``REPLACE PARTITION FIELD`` with a
    rewrite. The stored keys carry the table's key types, so this SQL
    spelling of lake.key_bucket routes a key as both backends do
    (tests/test_iceberg_backend.py checks the two by value)."""
    keys = ", ".join(_q(k) for k in key_columns)
    return (
        f"UPDATE {_qname(table)} SET {_q(BUCKET_COL)} = "
        f"CAST(pmod(xxhash64({keys}), {int(new_num_buckets)}) AS INT)"
    )


def _sql_set_property(table: str, key: str, value: str) -> str:
    return (
        f"ALTER TABLE {_qname(table)} SET TBLPROPERTIES "
        f"('{key}'='{value.replace(chr(39), chr(39) * 2)}')"
    )


def _sql_unset_property(table: str, key: str) -> str:
    return f"ALTER TABLE {_qname(table)} UNSET TBLPROPERTIES ('{key}')"


def evolution_ddl(table: str, plan: EvolutionPlan) -> list[str]:
    """The DDL statements a non-noop EvolutionPlan compiles to (law 4).
    Same planner as LakeTable; Iceberg's allowed type promotions
    (int→long, float→double, decimal precision up) are a superset of the
    engine's T3-T5 lattice, so every accepted plan is executable."""
    stmts = []
    if plan.add_columns:
        stmts.append(_sql_add_columns(table, plan.add_columns))
    for name, dt in plan.widen_columns:
        stmts.append(_sql_widen_column(table, name, dt))
    return stmts


# --------------------------------------------------------------------------
# The backend.
# --------------------------------------------------------------------------

class IcebergTable:
    """TableBackend over an Iceberg catalog table (see module doc).

    ``path`` is the fully-qualified identifier ``catalog.namespace.table``
    (kept as the attribute name ``path`` so the protocol surface —
    lineage records, CLI output — is backend-agnostic).
    """

    # merge_cdc is one MERGE INTO statement: no per-phase timings
    last_merge_metrics: "dict | None" = None

    def __init__(self, spark: SparkSession, path: str, version: int | None = None):
        if path.count(".") != 2:
            raise ValueError(
                "IcebergTable path must be 'catalog.namespace.table', "
                f"got {path!r}"
            )
        self.spark = spark
        self.path = path
        self.catalog, self.namespace, self.table = path.split(".")
        self._ancestry = self._load_ancestry()
        self.version = len(self._ancestry) if version is None else version
        if not 0 <= self.version <= len(self._ancestry):
            raise ValueError(
                f"version {version} outside [0, {len(self._ancestry)}]"
            )
        self._props = self._load_props()

    # -- availability ------------------------------------------------------

    @staticmethod
    def available(spark: SparkSession, catalog: str) -> bool:
        """True iff ``catalog`` is a reachable Iceberg catalog in this
        session. False (never raises) when jars/config are absent — the
        contract suite turns that into skips."""
        try:
            impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
        except Exception:
            return False
        if not impl or "iceberg" not in impl.lower():
            return False
        try:
            spark.sql(f"SHOW NAMESPACES IN {_q(catalog)}").collect()
            return True
        except Exception:
            return False

    # -- creation ----------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_columns: list[str],
        num_buckets: int = 8,
        merge_mode: str = "mor",
    ) -> "IcebergTable":
        catalog, namespace, _ = path.split(".")
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {_q(catalog)}.{_q(namespace)}"
        )
        spark.sql(_sql_create_table(path, schema, key_columns, num_buckets))
        if merge_mode == "cow":
            spark.sql(
                _sql_set_property(path, "write.merge.mode", "copy-on-write")
            )
        return cls(spark, path)

    # -- identity / layout -------------------------------------------------

    @property
    def _db_table(self) -> str:
        return f"{self.namespace}.{self.table}"

    def _load_props(self) -> dict:
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {_qname(self.path)}"
        ).collect()
        return {r["key"]: r["value"] for r in rows}

    def _load_ancestry(self) -> list[int]:
        """Current-ancestor snapshot ids, oldest→newest. Engine version N
        = the N-th published snapshot (0 = empty table)."""
        try:
            rows = self.spark.sql(
                f"SELECT snapshot_id FROM {_qname(self.path)}.history "
                f"WHERE is_current_ancestor ORDER BY made_current_at"
            ).collect()
        except Exception:
            return []
        return [r["snapshot_id"] for r in rows]

    @property
    def schema(self) -> T.StructType:
        full = self.spark.table(_qname(self.path)).schema
        return T.StructType(
            [f for f in full.fields if f.name not in INTERNAL_COLS]
        )

    @property
    def key_columns(self) -> list[str]:
        return list(json.loads(self._props[PROP_KEYS]))

    @property
    def num_buckets(self) -> int:
        pending = self._props.get(PROP_REBUCKET_PENDING)
        if pending:
            # rows may already carry the new numbering while this
            # property still holds the old one — answering would let a
            # merge insert duplicate keys. Fail loudly until repaired.
            raise RuntimeError(
                f"table {self.path} has an interrupted rebucket to "
                f"{pending} buckets; re-run rebucket({pending}) to "
                "complete it before writing"
            )
        return int(self._props[PROP_BUCKETS])

    @property
    def merge_mode(self) -> str:
        return (
            "cow"
            if self._props.get("write.merge.mode") == "copy-on-write"
            else "mor"
        )

    def committed_batches(self) -> set[str]:
        """Live ancestry wap.ids ∪ the expired-batches property (law 2;
        the union is what lets expire_snapshots drop summaries without
        re-opening the exactly-once door)."""
        ids = set(json.loads(self._props.get(PROP_BATCHES, "[]")))
        if self._ancestry:
            rows = self.spark.sql(
                f"SELECT summary['wap.id'] AS b "
                f"FROM {_qname(self.path)}.snapshots "
                f"WHERE snapshot_id IN ({', '.join(map(str, self._ancestry))}) "
                f"AND summary['wap.id'] IS NOT NULL"
            ).collect()
            ids |= {r["b"] for r in rows}
        return ids

    def _ledger_retention(self) -> "int | None":
        """Batch-ledger retention (LakeTable parity): most-recent ids
        kept in the expired-batches mirror, None = unbounded."""
        raw = self._props.get(PROP_LEDGER_RETENTION)
        if raw is None:
            return DEFAULT_BATCH_LEDGER_RETENTION
        return None if str(raw).lower() in ("none", "null", "") else int(raw)

    def _stored_ledger(self) -> list[str]:
        """The expired-batches property as its CHRONOLOGICAL list —
        order is what makes retention trimming (drop the oldest) sound."""
        return list(json.loads(self._props.get(PROP_BATCHES, "[]")))

    def _trimmed(self, ledger: list[str]) -> list[str]:
        keep = self._ledger_retention()
        if keep is not None and len(ledger) > keep:
            return ledger[-keep:]
        return ledger

    def _ancestry_wap_ids(self) -> list[str]:
        """wap.ids of the live ancestry, oldest-first (ancestry order —
        the chronology the mirror preserves across expiry)."""
        if not self._ancestry:
            return []
        rows = self.spark.sql(
            f"SELECT snapshot_id, summary['wap.id'] AS b "
            f"FROM {_qname(self.path)}.snapshots "
            f"WHERE snapshot_id IN ({', '.join(map(str, self._ancestry))}) "
            f"AND summary['wap.id'] IS NOT NULL"
        ).collect()
        by_id = {r["snapshot_id"]: r["b"] for r in rows}
        return [by_id[s] for s in self._ancestry if s in by_id]

    # -- reads -------------------------------------------------------------

    def _snapshot_clause(self) -> str:
        """Pin this handle's version (snapshot isolation, law 1)."""
        if self.version == 0:
            return ""  # caller special-cases the empty image
        return f" VERSION AS OF {self._ancestry[self.version - 1]}"

    def read_internal(self, buckets: list[int] | None = None) -> DataFrame:
        if self.version == 0:
            full = self.spark.table(_qname(self.path))
            return full.limit(0)
        df = self.spark.sql(
            f"SELECT * FROM {_qname(self.path)}{self._snapshot_clause()}"
        )
        if buckets is not None:
            # literal IN over the identity partition column → Iceberg
            # partition pruning (law 5)
            df = df.where(F.col(BUCKET_COL).isin([int(b) for b in buckets]))
        return df

    def read(self, where: "str | None" = None) -> DataFrame:
        df = self.read_internal()
        # user columns from the SNAPSHOT's own schema, not the current
        # table's: a time-traveled handle predating an ADD COLUMNS
        # evolution must not select columns its snapshot lacks (Iceberg
        # time travel reads under the snapshot's schema)
        user_cols = [
            f.name for f in df.schema.fields if f.name not in INTERNAL_COLS
        ]
        out = df.where(~F.col(DELETED_COL)).select(*user_cols)
        if where is not None:
            # Iceberg does its own manifest min/max file skipping from
            # the pushed filter — the catalog-side twin of LakeTable's
            # plans/stats.py bounds
            out = out.where(F.expr(where))
        return out

    # -- writes ------------------------------------------------------------

    def bucket_column(self, frame: DataFrame) -> F.Column:
        """The bucket id of ``frame``'s keys at the table's key types
        (lake.key_bucket) — what ``merge_cdc`` stages and prunes by."""
        return key_bucket([self.schema[k] for k in self.key_columns], self.num_buckets)

    def affected_bucket_offsets(
        self,
        events: DataFrame,
        seq_column: "str | None" = None,
        count_column: "str | None" = None,
    ) -> "dict[int, dict]":
        """Engine-hash buckets with their high-water offsets — the same
        groupBy as LakeTable's (plans/lake.py::bucket_offsets)."""
        return bucket_offsets(
            events, self.bucket_column(events), seq_column, count_column
        )

    def merge_cdc(
        self,
        changes: "DataFrame | pa.Table",
        batch_id: str,
        op_column: str = "op",
        seq_column: str = "event_seq",
        affected_buckets: list[int] | None = None,
    ) -> bool:
        """One WAP-staged ``MERGE INTO`` (module doc). A pyarrow Table
        (a batch folded on the driver) is staged as a local-relation
        DataFrame first, so it merges exactly as a DataFrame does."""
        if batch_id in self.committed_batches():
            return False  # law 2: replay is a no-op
        if not isinstance(changes, DataFrame):
            changes = arrow_frame(self.spark, changes)
        if affected_buckets is not None and not affected_buckets:
            # An all-cancelled (or empty) batch touches no buckets.
            # LakeTable commits it as a no-op; here a MERGE would stage
            # no snapshot for publish_changes to find, so the batch id is
            # recorded straight into the durable batch ledger (the same
            # property expire_snapshots mirrors into — law 2). Appended
            # chronologically, never re-sorted: order is what makes the
            # retention trim (drop the oldest) sound. Live ancestry
            # wap.ids stay discoverable from their summaries until expiry
            # mirrors them here, so they are NOT folded in eagerly.
            ledger = self._stored_ledger()
            if batch_id not in ledger:
                ledger.append(batch_id)
            self.spark.sql(
                _sql_set_property(
                    self.path, PROP_BATCHES, json.dumps(self._trimmed(ledger))
                )
            )
            self._props = self._load_props()
            return True
        self.evolve_schema(
            T.StructType(
                [
                    f
                    for f in changes.schema.fields
                    if f.name not in (op_column, seq_column)
                ]
            )
        )
        # op=NULL expresses no change (LakeTable parity — merge_cdc and
        # the fold both treat it as inert): kept, it would compute a NULL
        # _deleted for a NOT NULL column and corrupt/fail the MERGE.
        changes = changes.where(F.col(op_column).isNotNull())
        user_cols = [f.name for f in self.schema.fields]
        src = apply_cast_plan(
            changes.select(
                *[c for c in user_cols if c in changes.columns],
                F.col(seq_column).cast("long").alias(SEQ_COL),
                (F.col(op_column) == F.lit("D")).alias(DELETED_COL),
                self.bucket_column(changes).alias(BUCKET_COL),
            ),
            T.StructType(
                [f for f in self.schema.fields if f.name in changes.columns]
                + [
                    T.StructField(SEQ_COL, T.LongType(), False),
                    T.StructField(DELETED_COL, T.BooleanType(), False),
                    T.StructField(BUCKET_COL, T.IntegerType(), False),
                ]
            ),
        )
        for c in user_cols:  # columns this batch doesn't carry → null
            if c not in src.columns:
                src = src.withColumn(
                    c, F.lit(None).cast(dict(
                        (f.name, f.dataType) for f in self.schema.fields
                    )[c])
                )
        view = f"_sap_spark_src_{abs(hash(batch_id)) % 10**9}"
        src.createOrReplaceTempView(view)
        try:
            # WAP: stage the merge under the batch id, then publish —
            # crash-safe commit marker (law 2, module doc).
            self.spark.conf.set("spark.wap.id", batch_id)
            try:
                self.spark.sql(
                    _sql_merge(
                        self.path, view, self.key_columns, user_cols,
                        affected_buckets,
                    )
                )
            finally:
                self.spark.conf.unset("spark.wap.id")
            self.spark.sql(
                _sql_publish(self.catalog, self._db_table, batch_id)
            )
        finally:
            self.spark.catalog.dropTempView(view)
        self._ancestry = self._load_ancestry()
        self.version = len(self._ancestry)
        return True

    def overwrite(self, df: DataFrame, batch_id: str | None = None) -> None:
        """Replace the whole table (initial load / backfill). Same
        exactly-once contract as :meth:`merge_cdc` — a replayed
        ``batch_id`` that already committed is a no-op (the wap.id
        snapshot property stamped below is what committed_batches()
        discovers it by) — and the same evolution gate: a backfill frame
        carrying a column the stored schema lacks evolves the schema
        instead of silently dropping the column's data. Mirrors
        LakeTable.overwrite (lake.py) so the backends cannot drift."""
        if batch_id is not None and batch_id in self.committed_batches():
            return
        self.evolve_schema(
            T.StructType(
                [f for f in df.schema.fields if f.name not in INTERNAL_COLS]
            )
        )
        user_cols = [f.name for f in self.schema.fields]
        full = apply_cast_plan(df, self.schema).select(*user_cols).select(
            "*",
            F.lit(0).cast("long").alias(SEQ_COL),
            F.lit(False).alias(DELETED_COL),
            self.bucket_column(df).alias(BUCKET_COL),
        )
        writer = full.writeTo(_qname(self.path))
        if batch_id is not None:
            writer = writer.option("snapshot-property.wap.id", batch_id)
        # full-table replace (the contract's overwrite), NOT dynamic
        # partition overwrite — a df touching only some _bucket
        # partitions must still truncate the rest
        writer.overwrite(F.lit(True))
        self._ancestry = self._load_ancestry()
        self.version = len(self._ancestry)

    def evolve_schema(self, incoming: T.StructType) -> bool:
        plan = plan_evolution(self.schema, incoming)  # law 4: same planner
        refuse_key_widening(plan, self.key_columns)
        if plan.is_noop:
            return False
        for stmt in evolution_ddl(self.path, plan):
            self.spark.sql(stmt)
        return True

    # -- change feed -------------------------------------------------------

    def changes_between(
        self,
        from_version: int,
        to_version: int | None = None,
        incremental: "bool | None" = None,
    ) -> DataFrame:
        """Net I/U/D feed via the engine's snapshot-diff operator over two
        time-travel images (law 7). ``incremental`` is accepted for
        protocol parity and ignored: Iceberg's own
        ``CALL system.create_changelog_view`` is the native incremental
        path when the span is small relative to the table."""
        from sap_spark.operators.snapshot import snapshot_diff

        before = type(self)(self.spark, self.path, version=from_version)
        after = type(self)(self.spark, self.path, version=to_version)
        before_df, after_df = before.read(), after.read()
        # schema evolution between the two versions: columns the old
        # snapshot lacks read as typed nulls (snapshot-diff semantics —
        # an added column's first value reports as part of the U/I row)
        have = set(before_df.columns)
        for f in after_df.schema.fields:
            if f.name not in have:
                before_df = before_df.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        return snapshot_diff(
            before_df, after_df, key_columns=self.key_columns
        )

    # -- maintenance -------------------------------------------------------

    def compact(self, zorder: "list[str] | None" = None) -> None:
        """Bin-pack data files; user-visible rows unchanged (law 6).
        ``zorder`` clusters the rewrite via Iceberg's native
        ``rewrite_data_files(strategy => 'sort', sort_order =>
        'zorder(...)')`` — the catalog-side twin of
        ``LakeTable.compact(zorder=...)``. Tombstone purge (``DELETE
        WHERE _deleted``) is a separate checkpoint-barrier op exactly
        as in LakeTable.compact and is NOT run here."""
        self.spark.sql(
            _sql_rewrite_data_files(self.catalog, self._db_table, zorder)
        )
        self._ancestry = self._load_ancestry()
        self.version = len(self._ancestry)

    def rebucket(self, new_num_buckets: int) -> None:
        """Layout evolution (law 9): the row UPDATE (one transactional
        Iceberg commit) reroutes every row's ``_bucket`` under the new
        count, then the num-buckets property flips so
        ``affected_bucket_offsets`` and merge partition-pruning speak the
        new numbering. Readers of earlier snapshots are untouched (Iceberg
        snapshot isolation); a stale handle refreshes on reload exactly
        like after a compaction.

        The UPDATE and the property flip are necessarily TWO catalog
        commits (Iceberg transactions don't span DML + property DDL),
        so a crash window exists where rows carry the new numbering
        while the property still names the old — a merge in that state
        would silently insert duplicate keys. The pending marker closes
        it: ``PROP_REBUCKET_PENDING`` is set (with the target count)
        before the UPDATE and cleared after the flip; while it is set,
        ``num_buckets`` refuses to answer and re-running
        ``rebucket(<target>)`` repairs — the UPDATE is idempotent (it
        recomputes the same values whether the crash hit before or
        after the row commit), and completion flips + clears."""
        if not isinstance(new_num_buckets, int) or new_num_buckets < 1:
            raise ValueError(
                f"new_num_buckets must be a positive int, got {new_num_buckets!r}"
            )
        pending = self._props.get(PROP_REBUCKET_PENDING)
        if pending and int(pending) != new_num_buckets:
            raise RuntimeError(
                f"table {self.path} has an interrupted rebucket to "
                f"{pending} buckets; complete it with rebucket({pending}) "
                f"before requesting {new_num_buckets}"
            )
        current = int(self._props[PROP_BUCKETS])  # bypass the pending guard
        if not pending and new_num_buckets == current:
            raise ValueError(
                f"table already has {current} buckets — rebucket is a full "
                "rewrite, a same-count call is almost certainly a bug"
            )
        self.spark.sql(
            _sql_set_property(
                self.path, PROP_REBUCKET_PENDING, str(new_num_buckets)
            )
        )
        self.spark.sql(
            _sql_rebucket(self.path, self.key_columns, new_num_buckets)
        )
        self.spark.sql(
            _sql_set_property(self.path, PROP_BUCKETS, str(new_num_buckets))
        )
        self.spark.sql(_sql_unset_property(self.path, PROP_REBUCKET_PENDING))
        self._props = self._load_props()
        self._ancestry = self._load_ancestry()
        self.version = len(self._ancestry)

    def expire_snapshots(self, keep_last: int = 1, grace_seconds: float = 0.0) -> int:
        """Expire old snapshots, first mirroring their batch ids into the
        expired-batches property so law 2 survives (module doc §6).
        ``grace_seconds`` is accepted for protocol parity; Iceberg's
        own expire_snapshots never deletes files newer than the
        retained snapshots, so the in-flight-writer hazard LakeTable's
        grace window guards against does not exist here.

        The mirror is stored ids, then live ancestry wap.ids
        oldest-first, trimmed to the batch-ledger retention window —
        unbounded, it would grow one id per epoch forever, re-serialized
        at every expiry (LakeTable bounds its manifest ledger
        identically; Delta's setTransaction retention is the public
        analog). That order is chronological for every id but one kind:
        an empty-batch fast-path id (see merge_cdc) goes straight into
        the stored ids, so it lands ahead of the wap.ids of older data
        epochs still in the ancestry, and the trim can evict it before
        them. Harmless: replaying an evicted empty batch touches no
        bucket and changes no row, it only re-records its id."""
        stored = self._stored_ledger()
        # chronological except empty-batch fast-path ids, which sit
        # ahead of older live wap.ids (harmless; see the docstring)
        seen = set(stored)
        mirror = stored + [
            b for b in self._ancestry_wap_ids() if b not in seen
        ]
        self.spark.sql(
            _sql_set_property(
                self.path, PROP_BATCHES, json.dumps(self._trimmed(mirror))
            )
        )
        before = len(self._ancestry)
        self.spark.sql(
            _sql_expire_snapshots(self.catalog, self._db_table, keep_last)
        )
        self._props = self._load_props()
        return max(0, before - keep_last)

    def history(self) -> list[dict]:
        rows = self.spark.sql(
            f"SELECT h.snapshot_id, h.made_current_at, s.summary "
            f"FROM {_qname(self.path)}.history h "
            f"JOIN {_qname(self.path)}.snapshots s USING (snapshot_id) "
            f"WHERE h.is_current_ancestor ORDER BY h.made_current_at DESC"
        ).collect()
        out = []
        n = len(rows)
        for i, r in enumerate(rows):
            out.append(
                {
                    "version": n - i,
                    "snapshot_id": r["snapshot_id"],
                    "batch_id": (r["summary"] or {}).get("wap.id"),
                    "parent": n - i - 1 if n - i - 1 > 0 else None,
                }
            )
        if out:
            out[-1]["parent"] = None
        return out
