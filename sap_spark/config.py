"""Engine configuration + SparkSession factory.

Mirrors the reference's config-validation stage (``SapODataConfig.validate``,
/root/reference/src/main/java/io/cdap/plugin/sap/SapODataConfig.java:193-221)
as a plain dataclass with explicit validation, and centralizes the Spark
settings that matter at 100 TB scale (AQE, Arrow, shuffle sizing).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

# Charset rule for reference names, matching the reference's
# referenceName validation (SapODataConfig.java:200-207 via IdUtils).
_REFERENCE_NAME_RE = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9_.$-]*$")


class ConfigError(ValueError):
    """Invalid engine configuration (analog of CDAP FailureCollector failures)."""


@dataclass
class EngineConfig:
    """Configuration for one CDC ingest pipeline.

    Attributes
    ----------
    reference_name: lineage identifier (charset-validated like the reference).
    key_columns:    primary key of the target table; MERGE key.
    order_column:   globally monotone event-sequence column (LWW order).
    token_column:   delta-token (checkpoint unit) column.
    op_column:      I/U/D operation-code column.
    num_buckets:    hash buckets for the lake table layout (co-located merges).
    salt_partitions: salt fan-out for hot-key skew before windowed dedup.
    """

    reference_name: str = "sap_spark"
    key_columns: tuple[str, ...] = ("repo", "path")
    order_column: str = "event_seq"
    token_column: str = "delta_token"
    op_column: str = "op"
    rocancel_column: str = "rocancel"
    cancel_seq_column: str = "cancel_seq"
    payload_columns: tuple[str, ...] = ("commit", "lang", "content")
    num_buckets: int = 32
    salt_partitions: int = 8
    # The pipeline runs one fold (streaming/pipeline.ingest_batch) and
    # flips a batch from the fetch fold to the salted-window fold at
    # runtime when any single key carries at least this many surviving
    # events — the point where bounding every exchange explicitly
    # (per-(key, salt) window partitions) beats relying on
    # partial-aggregation behavior under adversarial skew. The count comes
    # out of the epoch's discovery (streaming/pipeline.discover) with the
    # bucket offsets, so measuring it costs no extra job.
    hot_key_threshold: int = 2_000_000

    def validate(self) -> "EngineConfig":
        errors: list[str] = []
        if not self.reference_name:
            errors.append("referenceName must be specified")
        elif not _REFERENCE_NAME_RE.match(self.reference_name):
            errors.append(
                f"Invalid reference name {self.reference_name!r}: allowed "
                "characters are letters, numbers, and _ . $ -"
            )
        if not self.key_columns:
            errors.append("key_columns must be non-empty")
        if self.order_column in self.key_columns:
            errors.append("order_column cannot be a key column")
        if self.num_buckets < 1:
            errors.append("num_buckets must be >= 1")
        if self.salt_partitions < 1:
            errors.append("salt_partitions must be >= 1")
        if self.hot_key_threshold < 1:
            errors.append("hot_key_threshold must be >= 1")
        if errors:
            raise ConfigError("; ".join(errors))
        return self


def tuned_builder(
    app_name: str = "sap_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
):
    """SparkSession.Builder with the engine's tuned configs.

    ``master=None`` leaves the master unset so ``spark-submit --master``
    (cluster mode) wins; local entry points pass one explicitly.
    """
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # CDC merges join content-heavy rows on already-hashed keys; a
        # sort-merge join pays two large sorts for nothing. Shuffled hash
        # join streams both sides (AQE still picks broadcast when a side
        # is small, and falls back to SMJ where SHJ is unsupported).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT96 (the legacy default) carries NO parquet min/max
        # statistics, which blinds both row-group pushdown and the
        # manifest file-skipping bounds (plans/stats.py); micros is the
        # modern interoperable encoding
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if master is not None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder


def get_spark(
    app_name: str = "sap_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local-mode defaults come from the sandbox (local[$SPARK_GRAFT_CPUS]); on a
    real cluster use ``tuned_builder`` (or the CLI, sap_spark/cli.py) under
    spark-submit, where the master is supplied externally.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    spark = tuned_builder(app_name, master, shuffle_partitions, extra_conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
