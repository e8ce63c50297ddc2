"""Schema compatibility + evolution rules.

Ports the reference's three compat rules (SapODataConfig.validateFieldsMatch,
/root/reference/src/main/java/io/cdap/plugin/sap/SapODataConfig.java:262-298):

1. provided fields must exist in the inferred schema (l.264-269);
2. types must match — with the engine extension that widening along the
   transformer's accepted coercion lattice (ODataEntryToRecordTransformer
   T3-T5, SURVEY.md §2.3) is allowed: int→long, int→double, long→double,
   float→double, decimal(p,s)→decimal(p',s) for p'≥p;
3. nullability may tighten, never loosen (l.291-295).

These rules drive the CDC engine's **schema-evolution gate**: before each
micro-batch MERGE, ``plan_evolution(current, incoming)`` decides which
ALTER-equivalent actions (add nullable column / widen column) the lake
table applies, and rejects incompatible drift (type narrowing, nullability
loosening of existing non-null columns).

Also ports the allowed-type allow-list validation
(SapODataConfig.java:223-250, allow-list at :47-55): {boolean, int, float,
double, bytes(binary), long, string, array, record(struct)} + logical
{decimal, timestamp} — map/union rejected (the widget JSON advertises them,
widgets/SapOData-batchsource.json:71-84, but code validation wins).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SchemaCompatError(ValueError):
    """Incompatible schema (analog of the reference's collected failures)."""


_ALLOWED_LEAF_TYPES = (
    T.BooleanType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.BinaryType,
    T.StringType,
    T.DecimalType,
    T.TimestampType,
)


def validate_schema_types(schema: T.StructType, path: str = "") -> None:
    """Recursively enforce the allowed-type set (SapODataConfig.java:223-250)."""
    for f in schema.fields:
        fpath = f"{path}.{f.name}" if path else f.name
        _validate_type(f.dataType, fpath)


def _validate_type(dt: T.DataType, fpath: str) -> None:
    if isinstance(dt, T.StructType):
        validate_schema_types(dt, fpath)
    elif isinstance(dt, T.ArrayType):
        _validate_type(dt.elementType, f"{fpath}[]")
    elif isinstance(dt, _ALLOWED_LEAF_TYPES):
        return
    else:
        raise SchemaCompatError(
            f"Field '{fpath}' has unsupported type {dt.simpleString()}; allowed: "
            "boolean, int, long, float, double, binary, string, decimal, "
            "timestamp, array, struct"
        )


# Widening lattice derived from the transformer's accepted coercions
# (ODataEntryToRecordTransformer.java:127-143: int/long kernels accept any
# narrower integral; float/double kernels accept any Number).
def _is_widening(src: T.DataType, dst: T.DataType) -> bool:
    if src == dst:
        return True
    pairs = {
        (T.IntegerType, T.LongType),
        (T.IntegerType, T.DoubleType),
        (T.LongType, T.DoubleType),
        (T.FloatType, T.DoubleType),
    }
    if (type(src), type(dst)) in pairs:
        return True
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return dst.scale == src.scale and dst.precision >= src.precision
    return False


def validate_fields_match(
    inferred: T.StructType, provided: T.StructType, allow_widening: bool = False
) -> None:
    """The reference's compat check (SapODataConfig.java:262-298).

    With allow_widening=False this is the strict reference behavior (types
    must be equal); with True, the engine's evolution lattice applies.
    """
    inferred_by_name = {f.name: f for f in inferred.fields}
    for f in provided.fields:
        inf = inferred_by_name.get(f.name)
        if inf is None:
            # l.264-269: provided field must exist in inferred schema
            raise SchemaCompatError(
                f"Field '{f.name}' is absent in the actual schema"
            )
        ok = _is_widening(inf.dataType, f.dataType) if allow_widening else (
            inf.dataType == f.dataType
        )
        if not ok:
            # l.281-289: type mismatch
            raise SchemaCompatError(
                f"Field '{f.name}' has type {f.dataType.simpleString()} but the "
                f"actual type is {inf.dataType.simpleString()}"
            )
        if not inf.nullable and f.nullable:
            # l.291-295: must not relax non-null to nullable
            raise SchemaCompatError(
                f"Field '{f.name}' must not be nullable: the actual field is "
                "non-nullable"
            )


@dataclass
class EvolutionPlan:
    """ALTER-equivalent actions the lake table applies before a MERGE."""

    add_columns: list[T.StructField] = field(default_factory=list)
    widen_columns: list[tuple[str, T.DataType]] = field(default_factory=list)

    @property
    def is_noop(self) -> bool:
        return not self.add_columns and not self.widen_columns

    def apply_to(self, schema: T.StructType) -> T.StructType:
        widen = dict(self.widen_columns)
        fields = [
            T.StructField(f.name, widen.get(f.name, f.dataType), f.nullable)
            for f in schema.fields
        ]
        # New source columns arrive nullable: pre-evolution rows read back as
        # null (FIXTURES.md §4 expected outcome).
        fields += [T.StructField(f.name, f.dataType, True) for f in self.add_columns]
        return T.StructType(fields)


def plan_evolution(current: T.StructType, incoming: T.StructType) -> EvolutionPlan:
    """Decide schema evolution for an incoming batch schema.

    - new column       → add (nullable) — rule C4/1 inverted: the engine
      accepts source drift the reference would only accept via re-inference;
    - widened type     → allowed along the T3-T5 lattice only;
    - narrowed type / incompatible type → SchemaCompatError;
    - column missing from incoming → fine (reads as null for that batch).
    """
    validate_schema_types(incoming)
    current_by_name = {f.name: f for f in current.fields}
    plan = EvolutionPlan()
    for f in incoming.fields:
        cur = current_by_name.get(f.name)
        if cur is None:
            plan.add_columns.append(f)
        elif cur.dataType != f.dataType:
            if _is_widening(cur.dataType, f.dataType):
                plan.widen_columns.append((f.name, f.dataType))
            elif _is_widening(f.dataType, cur.dataType):
                pass  # incoming is narrower: cast up at read, no DDL
            else:
                raise SchemaCompatError(
                    f"Field '{f.name}': cannot evolve "
                    f"{cur.dataType.simpleString()} → {f.dataType.simpleString()}"
                )
    return plan


def apply_cast_plan(df: DataFrame, target: T.StructType) -> DataFrame:
    """Conform a DataFrame to a target schema: missing columns → null,
    narrower columns → cast up. Used when unioning data files written under
    older schema versions (read-time evolution, no file rewrite). A frame
    whose (name, type) list already equals the target's — every file
    written under the current schema — is returned as is."""
    if [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in target.fields
    ]:
        return df
    cols = []
    have = {f.name: f for f in df.schema.fields}
    for f in target.fields:
        if f.name in have:
            src = have[f.name]
            col = F.col(f.name)
            if src.dataType != f.dataType:
                col = col.cast(f.dataType)
            cols.append(col.alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
