"""Seeded benchmark inputs: change logs, base snapshots and OData pages.

Every generator here is a pure function of the workload seed. Change
events and base rows come from ``sap_spark.sources.datagen`` (its model:
Zipf-hot repos, 2% ROCANCEL inside a delta token, ~1% redeliveries into a
later token). The datagen expressions read the module-level ``SEED`` when
the DataFrame is built, so :func:`seeded` swaps it for the duration of one
generator call and restores it afterwards.

OData delta pages are rendered from the same event model in the staged
layout ``odata_delta_pipeline`` consumes (``PAGE_SCHEMA_DDL``: one row per
V4 delta-response page under ``delta_token=<tok>/``).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sap_spark.sources import datagen

KEY_COLUMNS = ["repo", "path"]
PAYLOAD_COLUMNS = ["commit", "lang", "content"]
COLUMNS = KEY_COLUMNS + PAYLOAD_COLUMNS

TABLE_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), c not in KEY_COLUMNS) for c in COLUMNS]
)

# EDMX for the repo entity the OData workload's pages carry. Property names
# match the table columns, so the lake table has the same shape whichever
# path (change log or OData pages) fed it.
REPO_EDMX = """<?xml version="1.0" encoding="utf-8"?>
<edmx:Edmx Version="4.0" xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx">
  <edmx:DataServices>
    <Schema Namespace="Bench" xmlns="http://docs.oasis-open.org/odata/ns/edm">
      <EntityType Name="Repo">
        <Key><PropertyRef Name="repo"/><PropertyRef Name="path"/></Key>
        <Property Name="repo" Type="Edm.String" Nullable="false"/>
        <Property Name="path" Type="Edm.String" Nullable="false"/>
        <Property Name="commit" Type="Edm.String"/>
        <Property Name="lang" Type="Edm.String"/>
        <Property Name="content" Type="Edm.String"/>
      </EntityType>
      <EntityContainer Name="Container">
        <EntitySet Name="Repos" EntityType="Bench.Repo"/>
      </EntityContainer>
    </Schema>
  </edmx:DataServices>
</edmx:Edmx>"""


@contextlib.contextmanager
def seeded(seed: int):
    """Run datagen generators under ``seed`` instead of its default."""
    saved = datagen.SEED
    datagen.SEED = seed
    try:
        yield
    finally:
        datagen.SEED = saved


def write_change_log(spark, path: str, seed: int, n_events: int, n_keys: int,
                     events_per_token: int, rocancel_rate: float = 0.02,
                     dup_rate: float = 0.01) -> None:
    """One token-partitioned change log (one parquet file per delta token)."""
    with seeded(seed):
        events = datagen.gen_change_events(
            spark, n_events=n_events, n_keys=n_keys,
            events_per_token=events_per_token, rocancel_rate=rocancel_rate,
            dup_rate=dup_rate, num_partitions=4,
        )
    datagen.write_change_log(events, path)


def write_base_snapshot(spark, path: str, seed: int, n_keys: int) -> None:
    """Version-0 rows for ``n_keys`` keys: the table a trickle preloads."""
    with seeded(seed):
        rows = datagen.gen_repos(spark, n_keys=n_keys)
    rows.coalesce(1).write.parquet(path)


def token_dirs(log_path: str) -> list[str]:
    """The ``delta_token=…`` directory names of a log, in token order."""
    return sorted(d for d in os.listdir(log_path) if d.startswith("delta_token="))


def tree_bytes(path: str) -> int:
    """Bytes of every parquet file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def tree_rows(path: str) -> int:
    """Rows of every parquet file under ``path``, from the footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(dp, f)).metadata.num_rows
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def write_odata_pages(spark, events_path: str, pages_path: str, seed: int,
                      n_events: int, n_keys: int, events_per_token: int,
                      page_size: int) -> None:
    """Stage OData V4 delta-response pages plus the events they encode.

    The events (datagen's model without ROCANCEL or redeliveries: OData
    deltas carry neither) land at ``events_path`` for the oracle. Each page
    holds ``page_size`` consecutive events in seq order: I/U become upsert
    entries, D becomes an ``@odata.removed`` entry carrying only the key.
    A page's ``event_seq_base`` is its first event's seq, so the engine's
    per-entry seq (base + position) reproduces the event's own seq.
    """
    if events_per_token % page_size:
        raise ValueError("page_size must divide events_per_token")
    with seeded(seed):
        events = datagen.gen_change_events(
            spark, n_events=n_events, n_keys=n_keys,
            events_per_token=events_per_token, rocancel_rate=0.0,
            dup_rate=0.0, num_partitions=4,
        )
    events.write.parquet(events_path)
    events = spark.read.parquet(events_path)
    removed = F.to_json(F.struct(
        F.struct(F.lit("deleted").alias("reason")).alias("@odata.removed"),
        "repo", "path",
    ))
    upsert = F.to_json(F.struct(*COLUMNS))
    entry = F.when(F.col("op") == "D", removed).otherwise(upsert)
    pages = (
        events.select(
            "delta_token",
            (F.col("event_seq") / page_size).cast("long").alias("page"),
            F.struct("event_seq", entry.alias("json")).alias("e"),
        )
        .groupBy("delta_token", "page")
        .agg(F.sort_array(F.collect_list("e")).alias("es"))
        .select(
            F.concat(
                F.lit('{"@odata.context":"$metadata#Repos/$delta","value":['),
                F.array_join(F.transform("es", lambda e: e["json"]), ","),
                F.lit('],"@odata.deltaLink":"Repos?$deltatoken='),
                F.col("delta_token"),
                F.lit('"}'),
            ).alias("payload"),
            "delta_token",
            (F.col("page") * page_size).alias("event_seq_base"),
        )
    )
    (
        pages.repartition("delta_token")
        .write.partitionBy("delta_token")
        .parquet(pages_path)
    )


def sample_lookups(path: str, seed: int, n: int) -> list[dict]:
    """``n`` (repo, path, commit) picks from a parquet input, for the read
    mix's key and commit-sha lookups: a seeded sample of the rows in
    (repo, path, commit) order, so the picks do not depend on file layout."""
    import random

    import pyarrow.dataset as ds

    table = (
        ds.dataset(path, format="parquet", partitioning="hive")
        .to_table(columns=[*KEY_COLUMNS, "commit"], filter=ds.field("commit").is_valid())
        .sort_by([(c, "ascending") for c in (*KEY_COLUMNS, "commit")])
    )
    idx = sorted(random.Random(seed).sample(range(table.num_rows), min(n, table.num_rows)))
    return table.take(idx).to_pylist()

