"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: CDC last-writer-wins fold of the sf0.001
                     events stream into latest-state-per-user (the engine's
                     core operator on driver-provided data).
``queries()``      — one entry per implemented operator family
                     (SURVEY.md §2 + training-data ops); each callable takes
                     (spark, sf_dir) and returns a DataFrame.
``oracle_sql()``   — DuckDB-equivalent SQL per query (same column names;
                     float aggregates rounded on both sides so the
                     order-insensitive value-hash is stable).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """CDC fold on /root/testdata/sf0.001: treat the events table as a keyed
    change stream (key=user_id, order=event_id, op derived I/U/D) and fold it
    to latest state per key with the engine's LWW operator."""
    return _cdc_lww_events(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# CDC / engine-semantics queries (operators/dedup.py re-expressed on the
# driver's events table so DuckDB can check them)
# ---------------------------------------------------------------------------


def _events_as_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    op = (
        F.when(F.pmod(F.col("event_id"), 10) < 6, "I")
        .when(F.pmod(F.col("event_id"), 10) < 9, "U")
        .otherwise("D")
    )
    return ev.select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("event_seq"),
        op.alias("op"),
        F.col("event_type"),
        F.col("value"),
        F.col("ts"),
    )


_EVENTS_AS_CHANGELOG_SQL = """
    SELECT user_id AS key, event_id AS event_seq,
           CASE WHEN event_id % 10 < 6 THEN 'I'
                WHEN event_id % 10 < 9 THEN 'U'
                ELSE 'D' END AS op,
           event_type, value, ts
    FROM events
"""


def _cdc_lww_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW fold (winner selection + broadcast payload fetch) + delete
    filter: the engine's fold_changes/replay semantics keyed on user_id."""
    from sap_spark.config import EngineConfig
    from sap_spark.operators.dedup import replay

    cfg = EngineConfig(
        key_columns=("key",),
        order_column="event_seq",
        op_column="op",
        payload_columns=("event_type", "value", "ts"),
    ).validate()
    log = _events_as_changelog(spark, sf_dir)
    out = replay(log, cfg)
    return out.select("key", "event_type", F.round("value", 6).alias("value"), "ts")


def _cdc_lww_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same fold via the salted two-level row_number window (north_star
    machinery, the fold a hot-key batch flips to); must agree with the
    fetch fold and the oracle."""
    from sap_spark.config import EngineConfig
    from sap_spark.operators.dedup import lww_window

    cfg = EngineConfig(
        key_columns=("key",),
        order_column="event_seq",
        op_column="op",
        salt_partitions=4,
    ).validate()
    log = _events_as_changelog(spark, sf_dir)
    folded = lww_window(log, cfg)
    return folded.where(F.col("op") != "D").select(
        "key", "event_seq", "op", F.round("value", 6).alias("value")
    )


_CDC_LWW_SQL = f"""
    WITH log AS ({_EVENTS_AS_CHANGELOG_SQL}),
    latest AS (
        SELECT key, event_seq, op, event_type, value, ts,
               row_number() OVER (PARTITION BY key ORDER BY event_seq DESC) AS rn
        FROM log
    )
    SELECT key, event_type, round(value, 6) AS value, ts
    FROM latest WHERE rn = 1 AND op <> 'D'
"""

_CDC_LWW_WINDOW_SQL = f"""
    WITH log AS ({_EVENTS_AS_CHANGELOG_SQL}),
    latest AS (
        SELECT key, event_seq, op, value,
               row_number() OVER (PARTITION BY key ORDER BY event_seq DESC) AS rn
        FROM log
    )
    SELECT key, event_seq, op, round(value, 6) AS value
    FROM latest WHERE rn = 1 AND op <> 'D'
"""


def _events_filter_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OData-style pushdown surface: $filter + $orderby + $top + $select
    (sources/changelog.py apply_query_options)."""
    from sap_spark.sources.changelog import ODataQueryOptions, apply_query_options

    ev = _t(spark, sf_dir, "events")
    opts = ODataQueryOptions.parse(
        "?$filter=event_type = 'click' and value > 10.0"
        "&$orderby=event_id asc&$top=100&$select=event_id,user_id,value"
    )
    out = apply_query_options(ev, opts)
    return out.withColumn("value", F.round("value", 6))


_EVENTS_FILTER_TOPN_SQL = """
    SELECT event_id, user_id, round(value, 6) AS value
    FROM events
    WHERE event_type = 'click' AND value > 10.0
    ORDER BY event_id ASC
    LIMIT 100
"""


def _events_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$skip/$top paging (reference P4) over a deterministic order."""
    from sap_spark.sources.changelog import ODataQueryOptions, apply_query_options

    ev = _t(spark, sf_dir, "events")
    opts = ODataQueryOptions.parse(
        "$orderby=event_id&$skip=50&$top=25&$select=event_id,event_type"
    )
    return apply_query_options(ev, opts)


_EVENTS_PAGE_SQL = """
    SELECT event_id, event_type FROM events
    ORDER BY event_id OFFSET 50 LIMIT 25
"""


# ---------------------------------------------------------------------------
# relational coverage (scan/filter/agg/join/window/set ops)
# ---------------------------------------------------------------------------


def _pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_PRICING_SUMMARY_SQL = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


def _revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pipeline with broadcast dims: orders ⋈ customer ⋈ nation."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


_REVENUE_BY_NATION_SQL = """
    SELECT n_name,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
"""


def _top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: window top-k (dedup-family operator)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "rk",
        )
    )


_TOP_ORDERS_SQL = """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rk
        FROM orders
    )
    WHERE rk <= 3
"""


def _customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (idempotency re-check primitive, SURVEY.md §2.5 set ops):
    customers with no order above 200k."""
    customer = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000.0)
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


_CUSTOMERS_WITHOUT_BIG_ORDERS_SQL = """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 200000.0
    )
    ORDER BY c_custkey
"""


def _supplier_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join + multi-table agg: parts that ship, by brand."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    shipped = part.join(li, part.p_partkey == li.l_partkey, "left_semi")
    return (
        shipped.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
        .orderBy("p_brand")
    )


_SUPPLIER_PART_STATS_SQL = """
    SELECT p_brand, count(*) AS n_parts,
           round(avg(p_retailprice), 4) AS avg_price,
           max(p_size) AS max_size
    FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
    GROUP BY p_brand
    ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------


def _docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keep lowest doc_id."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("text_hash")
    )


_DOCS_EXACT_DEDUP_SQL = """
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY text_hash
"""


def _docs_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


_DOCS_LANG_PROFILE_SQL = """
    SELECT lang, source, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
"""


def _docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + char stats per doc (text-analysis op)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+"))
    return docs.select(
        "doc_id",
        toks.alias("n_tokens"),
        F.length("text").alias("len_chars"),
    ).orderBy("doc_id")


_DOCS_TOKEN_STATS_SQL = r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS n_tokens,
           length(text) AS len_chars
    FROM documents
    ORDER BY doc_id
"""


def _emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search against vector vec_id=0
    (JVM-side: zip_with + aggregate, no Python UDF).

    Vectors are quantized to integer milli-units first so the dot products
    are exact integers: cosine = int / (sqrt(int)*sqrt(int)) is then a chain
    of correctly-rounded IEEE ops, bit-identical across engines (float
    summation order can't differ when the sums are exact)."""
    emb = _t(spark, sf_dir, "embeddings")
    quant = F.transform(F.col("embedding"), lambda x: F.round(x * 1000).cast("long"))
    qe = emb.select("vec_id", "label", quant.alias("q"))
    qv = qe.where(F.col("vec_id") == 0).select(F.col("q").alias("qv"))
    joined = qe.where(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    cos = dot(F.col("q"), F.col("qv")).cast("double") / (
        F.sqrt(dot(F.col("q"), F.col("q")).cast("double"))
        * F.sqrt(dot(F.col("qv"), F.col("qv")).cast("double"))
    )
    return (
        joined.select("vec_id", "label", F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


_EMB_COSINE_TOPK_SQL = """
    WITH qe AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
        FROM embeddings
    ),
    qv AS (SELECT q AS qv FROM qe WHERE vec_id = 0)
    SELECT vec_id, label,
           round(
               CAST(list_sum(list_transform(list_zip(q, qv), p -> p[1] * p[2])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(list_zip(q, q), p -> p[1] * p[2])) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(list_zip(qv, qv), p -> p[1] * p[2])) AS DOUBLE))),
               6) AS cosine
    FROM qe, qv
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
"""


def _events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (streaming op_rates shape, batch mode)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


_EVENTS_HOURLY_WINDOW_SQL = """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
"""


def _orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + CUBE grouping-set aggregations (SURVEY §2.5 aggregations:
    hash/rollup/pivot/cube), each its own one-shuffle plan with map-side
    partial aggregation, results tagged by shape and unioned. Decimal
    sums keep the value-hash bit-stable across engines. (Consolidated
    from the former orders_rollup + orders_cube so the contract stays
    inside the driver's 50-row verification window.)"""
    orders = _t(spark, sf_dir, "orders")

    def agg(grouped, shape):
        return grouped.agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sum_price"),
        ).select(
            F.lit(shape).alias("shape"),
            "o_orderstatus",
            "o_orderpriority",
            "n_orders",
            F.col("sum_price").cast("double").alias("sum_price"),
        )

    return agg(
        orders.rollup("o_orderstatus", "o_orderpriority"), "rollup"
    ).unionByName(agg(orders.cube("o_orderstatus", "o_orderpriority"), "cube"))


_ORDERS_GROUPING_SETS_SQL = """
    SELECT 'rollup' AS shape, o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'cube' AS shape, o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def _events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (engine-portable pivot form)."""
    ev = _t(spark, sf_dir, "events")
    def cnt(t):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
    return (
        ev.groupBy("user_id")
        .agg(cnt("click"), cnt("view"), cnt("purchase"))
        .orderBy("user_id")
    )


_EVENTS_TYPE_PIVOT_SQL = """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""


def _nations_customers_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (EXCEPT): nation keys that have customers but no
    suppliers (SURVEY.md §2.5 set ops / idempotency re-check primitive)."""
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .exceptAll(supplier.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
        .orderBy("nationkey")
    )


_NATIONS_CUSTOMERS_ONLY_SQL = """
    SELECT DISTINCT nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT ALL
        SELECT s_nationkey AS nationkey FROM supplier
    )
    ORDER BY nationkey
"""


def _lineitem_decimal_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal fidelity (kernel T12): exact DECIMAL(18,2) arithmetic — cast,
    multiply, sum — no float drift permitted between engines."""
    li = _t(spark, sf_dir, "lineitem")
    # round() in the double domain first: both engines then cast a value
    # that is far from any .xx5 tie, so the double→decimal rounding-mode
    # difference (Spark HALF_UP vs DuckDB HALF_EVEN) can never bite
    price = F.round(F.col("l_extendedprice"), 2).cast("decimal(18,2)")
    disc = F.round(F.col("l_discount"), 2).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            # decimal-exact sums; emitted as double for the comparator
            # (13 significant digits — exact in float64)
            F.sum(price).cast("decimal(38,2)").cast("double").alias("sum_price"),
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("decimal(38,4)")
            .cast("double")
            .alias("sum_disc_price"),
        )
        .orderBy("l_returnflag")
    )


_LINEITEM_DECIMAL_TOTALS_SQL = """
    SELECT l_returnflag,
           CAST(CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price,
           CAST(CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(round(l_discount, 2) AS DECIMAL(18,2))))
                AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


def _events_time_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-of-day kernel (T9): micros-of-day as long — the engine's
    representation for Edm.Time (no Spark TimeType; SURVEY.md §1.2)."""
    ev = _t(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; session TZ is pinned UTC, so the cast is lossless
    ts = F.col("ts").cast("timestamp")
    micros = F.unix_micros(ts) - F.unix_micros(F.date_trunc("day", ts))
    return ev.select("event_id", micros.alias("time_micros")).orderBy("event_id")


_EVENTS_TIME_MICROS_SQL = """
    SELECT event_id,
           epoch_us(ts) - epoch_us(date_trunc('day', ts)) AS time_micros
    FROM events
    ORDER BY event_id
"""


def _docs_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The content-sha256 invariant (BASELINE.json input_hint) as an
    oracle-checked kernel: sha2(text, 256) per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.sha2("text", 256).alias("content_sha")).orderBy(
        "doc_id"
    )


_DOCS_SHA256_SQL = """
    SELECT doc_id, sha256(text) AS content_sha
    FROM documents
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# training-data-pipeline queries. Most are oracle-checked (docs_quality_lang,
# docs_stratified_sample, packing, snapshot-diff, near-dup methods, …);
# only the approximate top-k ANN query (emb_ann_methods) is rows-only, with
# its semantics pinned in pytest — see the oracle_sql() trailer comment.
# ---------------------------------------------------------------------------


def _docs_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + language ID + normalized-text digest per document
    (functions/text.py: Gopher/C4-style heuristics, marker-lexicon lang
    ID, dedup normalization) — fully oracle-checked: every heuristic is
    mirrored in DuckDB SQL (the digest uses md5, identical in both
    engines, rather than xxhash64 which DuckDB lacks; the xxhash64
    fingerprint() kernel keeps its own invariance pytest)."""
    from sap_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.quality_score(F.col("text")).alias("quality"),
        TX.lang_id(F.col("text")).alias("lang_pred"),
        TX.token_count(F.col("text")).alias("n_tokens"),
        F.md5(TX.normalize_text(F.col("text"))).alias("norm_md5"),
    )


# DuckDB mirror of quality_score/lang_id/token_count/normalize_text —
# list ops term-for-term (Spark filter/aggregate ≙ DuckDB list_filter/
# list_sum; array_max over (score, lang) structs ≙ list_sort[-1]); the
# 'g' flags matter (DuckDB regexp_replace is first-match by default,
# Spark's is replace-all).
_DOCS_QUALITY_LANG_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS toks,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0B\f\r]+')) END AS n_toks
  FROM documents
),
feat AS (
  SELECT doc_id, text, toks, n_toks,
    CASE WHEN len(toks) > 0
         THEN list_sum(list_transform(toks, t -> length(t))) / CAST(len(toks) AS DOUBLE)
         ELSE 0.0 END AS mwl,
    CASE WHEN length(text) > 0
         THEN length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) / CAST(length(text) AS DOUBLE)
         ELSE 0.0 END AS punct_r,
    CASE WHEN length(text) > 0
         THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / CAST(length(text) AS DOUBLE)
         ELSE 0.0 END AS alpha_r,
    CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, t -> list_contains(
              ['the','and','of','to','in','is','that','it','was','for','a','an','as','at','be','by','on','or','are','this','with','from'], t)))
              / CAST(len(toks) AS DOUBLE)
         ELSE 0.0 END AS sw_r
  FROM base
),
scored AS (
  SELECT doc_id, n_toks,
    round(CAST(
      (CASE WHEN n_toks >= 10 AND n_toks <= 100000 THEN 1.0 ELSE 0.2 END)
      * (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.3 END)
      * (CASE WHEN punct_r <= 0.3 THEN 1.0 ELSE 0.4 END)
      * (CASE WHEN alpha_r >= 0.55 THEN 1.0 ELSE 0.5 END)
      * (CASE WHEN sw_r >= 0.05 THEN 1.0 ELSE 0.6 END) AS DOUBLE), 6) AS quality,
    list_sort([
      {'score': len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','it','was','for'], t))), 'lang': 'en'},
      {'score': len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht','ein','mit','für','auf'], t))), 'lang': 'de'},
      {'score': len(list_filter(toks, t -> list_contains(['le','la','les','et','est','pas','pour','que','une','dans'], t))), 'lang': 'fr'},
      {'score': len(list_filter(toks, t -> list_contains(['el','la','los','de','que','es','en','un','por','con'], t))), 'lang': 'es'},
      {'score': len(list_filter(toks, t -> list_contains(['il','la','di','che','è','per','un','non','con','del'], t))), 'lang': 'it'},
      {'score': len(list_filter(toks, t -> list_contains(['o','a','de','que','em','um','para','com','não','os'], t))), 'lang': 'pt'}
    ])[-1] AS best,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \t\n\x0B\f\r]', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS norm_md5
  FROM feat
)
SELECT doc_id, quality,
       CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_pred,
       n_toks AS n_tokens, norm_md5
FROM scored
"""


def _docs_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/lateral operator class: explode the tokenized corpus and
    count word frequencies (the vocabulary-building primitive) — explode
    stays inside whole-stage codegen, aggregation is two-phase hash."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.where(F.trim("text") != "").select(
        F.explode(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+")).alias("word")
    )
    return (
        words.where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(50)
    )


_DOCS_TOP_WORDS_SQL = r"""
    SELECT word, COUNT(*) AS n
    FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS word
        FROM documents WHERE trim(text) <> ''
    )
    WHERE word <> ''
    GROUP BY word ORDER BY n DESC, word LIMIT 50
"""


def _docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (training-data pipeline tail): documents chunked
    into ~512-token context bins by greedy offset chunking
    (operators/packing.py) — bin = floor(start_offset / 512) — over the
    SHARDED scale path: 8 deterministic shards (doc_id % 8), each packed
    by its own window in doc_id order, embarrassingly parallel with bin
    ids unique per (shard, bin). This is the form that survives 100 TB
    (one window partition per shard, never a single global sort); the
    un-sharded global form remains covered by tests/test_packing.py."""
    from sap_spark.functions import text as TX
    from sap_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        F.pmod(F.col("doc_id"), F.lit(8)).alias("shard"),
    )
    return pack_sequences(
        docs, "n_tokens", 512, order_cols=["doc_id"], partition_cols=["shard"]
    ).select("doc_id", "n_tokens", "shard", "pack_offset", "pack_id")


_DOCS_PACK_SEQUENCES_SQL = r"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) END
                   AS n_tokens,
               doc_id % 8 AS shard
        FROM documents
    )
    SELECT doc_id, n_tokens, shard,
           CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING)
                - n_tokens AS BIGINT) AS pack_offset,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)
                       - n_tokens) / 512) AS BIGINT) AS pack_id
    FROM t
"""


def _docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff CDC bootstrap (operators/snapshot.py): two derived
    images of the documents table (deletions = doc_id%5 keys, inserts =
    doc_id%7 keys, updates = '!' appended at doc_id%3) diffed into the
    I/U/D change events that transform one into the other — one
    full-outer join, null-safe struct comparison."""
    from sap_spark.operators.snapshot import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    new = (
        docs.where(F.col("doc_id") % 5 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit("!"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return snapshot_diff(old, new, ["doc_id"]).select(
        "doc_id", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("text_sha"), "op"
    )


_DOCS_SNAPSHOT_DIFF_SQL = """
    WITH old AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
    ), new AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN text || '!' ELSE text END AS text
        FROM documents WHERE doc_id % 5 <> 0
    ), d AS (
        SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
               n.text AS text,
               CASE WHEN o.doc_id IS NULL THEN 'I'
                    WHEN n.doc_id IS NULL THEN 'D'
                    WHEN n.text IS DISTINCT FROM o.text THEN 'U' END AS op
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT doc_id, sha256(COALESCE(text, '')) AS text_sha, op
    FROM d WHERE op IS NOT NULL
"""


def _docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic identity-hash stratified sampling + train/eval split
    (operators/sampling.py): membership is a pure function of doc_id, so
    retries/repartitions/cluster sizes reproduce the same corpus. Run
    with hash_fn='md5' (first 15 md5 hex digits → bigint), the portable
    variant whose membership any md5-bearing engine reproduces — DuckDB
    verifies the exact kept set and split tags. The xxhash64 default
    (production: cheapest JVM hash) shares every property and is pinned
    in tests/test_sampling.py."""
    from sap_spark.operators.sampling import split_train_eval, stratified_sample

    docs = _t(spark, sf_dir, "documents")
    sampled = stratified_sample(docs, ["doc_id"], 0.5, hash_fn="md5")
    return split_train_eval(sampled, ["doc_id"], 0.1, hash_fn="md5").select(
        "doc_id", "lang", "split"
    )


# DuckDB mirror of the md5 identity-hash bucket: same prefix-free key
# ('V<len>:<value>' per part — doc_id, then domain, then seed; NULL would
# encode as 'N;' but doc_id is non-null), same 15-hex-digit prefix →
# bigint, same pmod scale. The 0.1::DOUBLE * 1000000 form reproduces the
# exact IEEE product Spark computes from Python floats (100000.00000000001
# — a plain DECIMAL 100000 would misclassify a bucket landing exactly on
# the boundary).
_DOCS_STRATIFIED_SAMPLE_SQL = r"""
WITH b AS (
  SELECT doc_id, lang,
    ('0x' || substr(md5('V' || length(doc_id::VARCHAR)::VARCHAR || ':' || doc_id::VARCHAR || 'V6:sample' || 'V1:0'), 1, 15))::BIGINT % 1000000 AS b_sample,
    ('0x' || substr(md5('V' || length(doc_id::VARCHAR)::VARCHAR || ':' || doc_id::VARCHAR || 'V5:split' || 'V1:0'), 1, 15))::BIGINT % 1000000 AS b_split
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN b_split < 0.1::DOUBLE * 1000000 THEN 'eval' ELSE 'train' END AS split
FROM b
WHERE b_sample < 0.5::DOUBLE * 1000000
"""


def _docs_neardup_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three text near-dup strategies over documents in one contract
    query — MinHash+LSH (char shingles), word-n-gram Jaccard, and SimHash
    (pigeonhole chunk join) — unioned as (method, doc_id, group_id).

    Oracle-checked (_DOCS_NEARDUP_SQL), by the same argument that promoted
    emb_cosine_dedup: each method's OUTPUT is exact given its candidate
    set — minhash/ngram verify candidates with exact Jaccard >= threshold,
    simhash's pigeonhole chunk join has recall exactly 1 by construction —
    so the DuckDB side recomputes ground truth without mirroring the LSH:
    exhaustive shingle-join Jaccard pairs for minhash/ngram, and the
    bit-identical sha256 SimHash fingerprint (portable by design, see
    functions/similarity.py) + exhaustive hamming pairs for simhash.
    Banding recall (the only probabilistic link) is empirically 1 on this
    corpus at sf0.01 AND sf0.1 — every Jaccard-qualifying pair sits far
    from the S-curve's miss region — and everything is seed-deterministic,
    so the hash equality is stable, not a coin flip."""
    from sap_spark.operators.textdedup import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
        dedup_simhash,
    )

    docs = _t(spark, sf_dir, "documents")
    parts = [
        ("minhash", dedup_minhash_lsh(docs, "doc_id", "text", threshold=0.7)),
        ("ngram", dedup_ngram_jaccard(docs, "doc_id", "text", threshold=0.7)),
        ("simhash", dedup_simhash(docs, "doc_id", "text", max_hamming=3)),
    ]
    out = None
    for method, df in parts:
        tagged = df.select(
            F.lit(method).alias("method"), "doc_id", "group_id"
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


_DOCS_NEARDUP_SQL = """
-- Ground-truth recompute of all three near-dup methods (no LSH mirror
-- needed: candidate recall is 1 on this corpus; the verify stages are
-- exact). Shingles join on DuckDB hash() of the shingle string -- any
-- injective-ish 64-bit map preserves intersection counts (collision
-- odds ~1e-14 per pair, and deterministic). SimHash fingerprints are
-- recomputed bit-identically from sha256 (functions/similarity.py).
WITH RECURSIVE norm AS (
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 \t\n\x0B\f\r]', ' ', 'g'),
                '[ \t\n\x0B\f\r]+', ' ', 'g')) AS t
    FROM documents
),
csh AS (
    SELECT DISTINCT doc_id, hash(substr(t, i, 5)) AS hs
    FROM norm, UNNEST(generate_series(1, greatest(length(t) - 4, 0))) AS u(i)
),
csize AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
cpairs AS (
    SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
    FROM csh a JOIN csh b ON a.hs = b.hs AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
cedges0 AS (
    SELECT p.a, p.b
    FROM cpairs p JOIN csize sa ON sa.doc_id = p.a
                  JOIN csize sb ON sb.doc_id = p.b
    WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.7
),
cedges AS (SELECT a, b FROM cedges0 UNION SELECT b, a FROM cedges0),
creach(id, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b, r.lbl FROM creach r JOIN cedges e ON e.a = r.id
),
cgroups AS (SELECT id AS doc_id, min(lbl) AS group_id FROM creach GROUP BY id),
gtok AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
gsh AS (
    SELECT DISTINCT doc_id, hash(array_to_string(w[i:i+2], ' ')) AS hs
    FROM gtok, UNNEST(generate_series(1,
         CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END)) AS u(i)
),
gsize AS (SELECT doc_id, count(*) AS n FROM gsh GROUP BY doc_id),
gpairs AS (
    SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
    FROM gsh a JOIN gsh b ON a.hs = b.hs AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
gedges0 AS (
    SELECT p.a, p.b
    FROM gpairs p JOIN gsize sa ON sa.doc_id = p.a
                  JOIN gsize sb ON sb.doc_id = p.b
    WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.7
),
gedges AS (SELECT a, b FROM gedges0 UNION SELECT b, a FROM gedges0),
greach(id, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b, r.lbl FROM greach r JOIN gedges e ON e.a = r.id
),
ggroups AS (SELECT id AS doc_id, min(lbl) AS group_id FROM greach GROUP BY id),
stoks AS (
    SELECT doc_id, unnest(string_split(t, ' ')) AS tok
    FROM norm WHERE t <> ''
),
sth AS (
    SELECT doc_id, ('0x' || substr(sha256(tok), 1, 16))::UBIGINT AS h
    FROM stoks
),
sbits AS (
    SELECT doc_id, b,
           sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM sth, UNNEST(generate_series(0, 63)) AS u(b)
    GROUP BY doc_id, b
),
sfp0 AS (
    SELECT doc_id,
           sum(CASE WHEN v > 0 THEN
                 CASE WHEN b = 63 THEN -9223372036854775808
                      ELSE (1::BIGINT << b) END
               ELSE 0 END)::BIGINT AS fp
    FROM sbits GROUP BY doc_id
),
sfp AS (
    SELECT d.doc_id, coalesce(f.fp, 0) AS fp
    FROM documents d LEFT JOIN sfp0 f USING (doc_id)
),
sedges0 AS (
    SELECT a.doc_id AS a, b.doc_id AS b
    FROM sfp a JOIN sfp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 3
),
sedges AS (SELECT a, b FROM sedges0 UNION SELECT b, a FROM sedges0),
sreach(id, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b, r.lbl FROM sreach r JOIN sedges e ON e.a = r.id
),
sgroups AS (SELECT id AS doc_id, min(lbl) AS group_id FROM sreach GROUP BY id)
SELECT 'minhash' AS method, doc_id, group_id FROM cgroups
UNION ALL
SELECT 'ngram' AS method, doc_id, group_id FROM ggroups
UNION ALL
SELECT 'simhash' AS method, doc_id, group_id FROM sgroups
"""


def _emb_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: banded hyperplane-LSH candidate join + exact
    cosine verify + connected-component group resolution — oracle-checked
    end to end.

    The driver's embeddings table has no natural pairs above 0.99 (max
    base cosine ≈ 0.6), so the query plants one near-duplicate per 10th
    vector: the same vector quantized to integer milli-units with +7
    added to its first coordinate (cosine ≈ 0.99997 — a true NEAR dup,
    not a copy, so the verify leg is exercised). Quantization makes
    every dot product an exact integer, so the cosine and the 0.99
    threshold decision are bit-identical in Spark and DuckDB; 8 bands x
    12 planes put per-pair miss probability ~2e-13, and the oracle's
    exhaustive-pair + recursive-CTE components confirm the LSH found
    every pair (recall 1 on this data, checked by hash equality)."""
    from sap_spark.operators.textdedup import dedup_embedding_cosine

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    # planted ids start past the natural domain at ANY scale factor (a
    # fixed offset would collide once vec_id reaches it, duplicating ids
    # in the corpus and desyncing the oracle's GROUP BY)
    off = emb.agg(F.max("vec_id")).first()[0] + 1
    quant = F.transform(F.col("embedding"), lambda x: F.round(x * 1000))
    base = emb.select("vec_id", quant.alias("q"))
    planted = base.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(off)).alias("vec_id"),
        F.transform(
            F.col("q"), lambda x, i: F.when(i == 0, x + 7.0).otherwise(x)
        ).alias("q"),
    )
    corpus = base.unionByName(planted)
    return dedup_embedding_cosine(
        corpus, "vec_id", "q", dim, threshold=0.99, n_planes=12, n_bands=8
    )


_EMB_COSINE_DEDUP_SQL = """
    WITH RECURSIVE base AS (
        SELECT vec_id, list_transform(embedding, x -> round(x * 1000)) AS q
        FROM embeddings
    ),
    planted AS (
        SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
               list_concat([q[1] + 7], q[2:]) AS q
        FROM base WHERE vec_id % 10 = 0
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
    pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        WHERE list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2]))
              / (sqrt(list_sum(list_transform(list_zip(a.q, a.q), p -> p[1] * p[2])))
                 * sqrt(list_sum(list_transform(list_zip(b.q, b.q), p -> p[1] * p[2]))))
              >= 0.99
    ),
    edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
    reach(id, lbl) AS (
        SELECT vec_id, vec_id FROM corpus
        UNION
        SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
    )
    SELECT id AS vec_id, min(lbl) AS group_id FROM reach GROUP BY id
"""


def _emb_ann_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both approximate-nearest-neighbor index paths in one contract query:
    multi-probe hyperplane-LSH and IVF (k-means inverted lists + nprobe
    partition-pruned probe), unioned as (method, vec_id, cosine). Rows-only:
    hash-seeded signatures / k-means assignment are not DuckDB-expressible;
    recall floors and the nprobe pruning plan are pinned in
    tests/test_text_similarity.py. The exact brute-force baseline is the
    oracle-checked emb_cosine_topk."""
    from sap_spark.operators.textdedup import ann_ivf, ann_lsh, build_ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    q = list(emb.where(F.col("vec_id") == 0).collect()[0]["embedding"])
    corpus = emb.where(F.col("vec_id") != 0)
    lsh = ann_lsh(
        corpus, "vec_id", "embedding", q,
        dim=len(q), k=10, n_planes=12, max_probe_hamming=6,
    )
    assigned, centroids = build_ivf_index(
        corpus, "vec_id", "embedding", n_centroids=16, seed=7
    )
    ivf = ann_ivf(assigned, centroids, "vec_id", "embedding", q, k=10, nprobe=8)
    return lsh.select(F.lit("lsh").alias("method"), "vec_id", "cosine").unionByName(
        ivf.select(F.lit("ivf").alias("method"), "vec_id", "cosine")
    )


def _cdc_token_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-delta-token operational metrics of the synthetic change log
    (streaming/aggregates.token_progress) — oracle-checked over the same
    staged log as the replay. The operator's ``approx_keys`` HLL column
    is excluded from the contract projection (HLL sketches are
    engine-specific, so DuckDB's approx_count_distinct would hash-differ
    by design); its accuracy vs exact distinct is pinned in
    tests/test_streaming_aggregates.py. All seven exact aggregate
    columns are hash-checked."""
    from sap_spark.streaming.aggregates import token_progress

    out = token_progress(_staged_replay_log(spark)).drop("approx_keys")
    counts = ["n_events", "n_insert", "n_update", "n_delete", "n_rocancel"]
    # pin the wire type: DuckDB sums to HUGEINT, so both sides cast to
    # 64-bit or the hash compares int64 against float64/object reprs
    return out.select(
        "delta_token",
        *[F.col(c).cast("long").alias(c) for c in counts],
        "min_seq",
        "max_seq",
    )


def _cdc_token_progress_sql() -> str:
    return f"""
    WITH log AS (
        SELECT * FROM read_parquet('{_cdc_replay_glob()}')
    )
    SELECT delta_token,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
           CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
           CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
           CAST(sum(CASE WHEN rocancel THEN 1 ELSE 0 END) AS BIGINT) AS n_rocancel,
           min(event_seq) AS min_seq,
           max(event_seq) AS max_seq
    FROM log GROUP BY delta_token ORDER BY delta_token
    """


# ---------------------------------------------------------------------------
# the north-star metric: full engine replay on the synthetic change log,
# hash-checked by the driver against an independent DuckDB replay
# ---------------------------------------------------------------------------

# The synthetic log is xxhash64-generated, so DuckDB can't regenerate it;
# the query stages it to parquet once (deterministic: seed=42, pure
# function of the row index) and the oracle SQL replays THE SAME BYTES.
# The directory is keyed by (a) the current user — /tmp is world-shared
# and another user's dir would be unwritable — and (b) a content
# fingerprint of the generated frame (one tiny job over 10k slim rows),
# so a change to the generator can never silently replay stale bytes,
# and concurrent runs of the same code converge on one identical dir.
def _sweep_stale(root: str, prefixes: "tuple[str, ...]", skip=()) -> None:
    """Remove hour-old siblings matching ``prefixes`` under ``root`` —
    the shared hygiene contract for every /tmp dir a contract query
    materializes (staged oracle log, pipeline workdirs): never touch
    anything younger than an hour (a just-finished concurrent run might
    still be reading it), never touch ``skip`` entries."""
    import os
    import shutil
    import time

    now = time.time()
    for d in os.listdir(root):
        if d in skip or not d.startswith(prefixes):
            continue
        full = os.path.join(root, d)
        try:
            if now - os.lstat(full).st_mtime > 3600:
                if os.path.islink(full):
                    os.unlink(full)
                else:
                    shutil.rmtree(full, ignore_errors=True)
        except OSError:
            pass


def _replay_stage_dir(events: DataFrame) -> str:
    import getpass

    fp = (
        events.select(
            # decimal sum: a long sum of 64-bit hashes overflows ANSI
            F.xxhash64(*sorted(events.columns)).cast("decimal(30,0)").alias("h")
        )
        .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n"))
        .first()
    )
    tag = f"{int(fp['s'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}-{fp['n']}"
    return (
        f"/tmp/sap_spark_oracle_stage-{getpass.getuser()}/"
        f"cdc_replay_log-{tag}"
    )


def _staged_replay_log(spark: SparkSession) -> DataFrame:
    """Materialize the deterministic synthetic change log (10k events /
    1k keys) for side-by-side Spark + DuckDB replay. Concurrency-safe
    by construction: the log is written to a private tmp dir and
    PUBLISHED with one atomic rename (a half-written stage is never
    visible under its final name), a ``current`` symlink — also swapped
    atomically — names the fingerprint dir this process staged, and the
    oracle reads through that symlink, so its glob can never span two
    stages even while another run (e.g. an older generator version)
    publishes a different fingerprint next to it. Idempotent: a
    complete stage for this content short-circuits the write; stale
    siblings are swept only once they are an hour old (never the dir
    a just-finished run might still be reading)."""
    import os
    import shutil

    from sap_spark.sources.datagen import gen_change_events

    events = gen_change_events(spark, n_events=10_000, n_keys=1_000)
    stage = _replay_stage_dir(events)
    root, this = os.path.dirname(stage), os.path.basename(stage)
    os.makedirs(root, exist_ok=True)
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        tmp = f"{stage}.tmp-{os.getpid()}"
        events.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, stage)  # atomic publish: all-or-nothing
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # a twin run won
    # repoint current -> this fingerprint (atomic symlink swap)
    link, tmplink = os.path.join(root, "current"), os.path.join(
        root, f"current.tmp-{os.getpid()}"
    )
    try:
        os.symlink(this, tmplink)
        os.replace(tmplink, link)
    except OSError:
        if os.path.exists(tmplink):
            os.unlink(tmplink)
    # hygiene: sweep hour-old stages from other generator versions
    _sweep_stale(
        root, ("cdc_replay_log-", "current.tmp-"), skip=(this, "current")
    )
    return spark.read.parquet(stage)


def _cdc_replay_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC replay (ROCANCEL cancellation + LWW dedup + delete
    filter) of the deterministic synthetic change log — the final table
    state under the content-sha256 invariant (BASELINE.json metric).
    Oracle-checked: _CDC_REPLAY_SQL folds the same staged log in DuckDB
    (cancel anti-join → row_number LWW window → I/U/D fold); the pytest
    sequential-fold oracle (tests/test_dedup.py) pins the same semantics
    event-by-event."""
    from sap_spark.config import EngineConfig
    from sap_spark.operators.dedup import replay

    cfg = EngineConfig().validate()
    events = _staged_replay_log(spark)
    return replay(events, cfg).select(
        "repo", "path", "commit", "lang", F.sha2("content", 256).alias("content_sha")
    )


def _cdc_replay_glob() -> str:
    """The oracle-side path: reads through the ``current`` symlink the
    Spark query just pointed at its fingerprint dir, so the glob names
    exactly one stage — it cannot span a sibling stage published by a
    concurrent run of a different generator version."""
    import getpass

    return (
        f"/tmp/sap_spark_oracle_stage-{getpass.getuser()}/"
        "current/*.parquet"
    )


_CDC_REPLAY_SQL = f"""
    WITH log AS (
        SELECT * FROM read_parquet('{_cdc_replay_glob()}')
    ),
    cancelled AS (
        SELECT DISTINCT cancel_seq AS event_seq FROM log
        WHERE rocancel AND cancel_seq IS NOT NULL
    ),
    survivors AS (
        SELECT l.* FROM log l
        LEFT JOIN cancelled c USING (event_seq)
        WHERE NOT l.rocancel AND c.event_seq IS NULL
    ),
    latest AS (
        SELECT repo, path, commit, lang, content, op,
               row_number() OVER (
                   PARTITION BY repo, path
                   ORDER BY event_seq DESC, delta_token DESC
               ) AS rn
        FROM survivors
    )
    SELECT repo, path, commit, lang, sha256(content) AS content_sha
    FROM latest WHERE rn = 1 AND op <> 'D'
"""


_REPLAY_TARGET_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("content", StringType(), True),
    ]
)


def _contract_workdir(prefix: str) -> str:
    """Fresh private workdir for a contract query that materializes
    pipeline state (log, lake table, checkpoint). Per-call (mkdtemp) so
    concurrent driver/check runs can never share a checkpoint; siblings
    from finished runs are swept once they are an hour old — the same
    hygiene contract as the staged-log dir (shared ``_sweep_stale``)."""
    import tempfile

    _sweep_stale(tempfile.gettempdir(), (prefix,))
    return tempfile.mkdtemp(prefix=prefix)


def _run_pipeline_replay(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Single-table half of ``cdc_engine_replay``: the staged synthetic
    log is written out as a token-partitioned change log, consumed by
    the real checkpointed Structured Streaming :class:`CdcPipeline`
    (multiple AvailableNow micro-batches → exactly-once MERGE into a
    bucketed LakeTable), and the final TABLE STATE is returned under
    the content-sha256 invariant (BASELINE.json metric). Pins
    checkpointing, epoch slicing, delta-token atomicity and the MERGE
    sink — not just the fold operator."""
    from sap_spark.config import EngineConfig
    from sap_spark.plans.lake import LakeTable
    from sap_spark.sources.datagen import write_change_log
    from sap_spark.streaming.pipeline import CdcPipeline

    cfg = EngineConfig().validate()
    base = _contract_workdir("sap_spark_contract_pipeline-")
    write_change_log(events, f"{base}/log")
    table = LakeTable.create(
        spark, f"{base}/repos", _REPLAY_TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    CdcPipeline(
        spark, cfg, table, f"{base}/log",
        checkpoint_dir=f"{base}/ckpt",
        max_files_per_trigger=4,  # >1 epoch: resume/slicing in the loop
        pipeline_id="contract-replay",
    ).run_available_now(timeout_sec=600)
    return LakeTable(spark, table.path).read().select(
        "repo", "path", "commit", "lang",
        F.sha2("content", 256).alias("content_sha"),
    )


def _run_multitable_replay(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Multi-table half of ``cdc_engine_replay`` — SLT mass-transfer
    semantics: ONE ordered change log carries two tables' events
    ('repos' = full payload; 'meta' = narrower payload, no content,
    keys disjoint via the m/ prefix), consumed ONCE by the checkpointed
    :class:`MultiTableCdcPipeline` (route → per-table projection →
    per-table fold/MERGE with per-table commit markers), and both final
    table states are returned tagged by table — a routing leak, drop,
    or cross-table payload bleed hash-mismatches against the oracle.
    Reference contrast: SapODataConfig.java:66-69 reads exactly one
    entity set per pipeline, so N tables cost N passes over the queue;
    here N tables cost one."""
    from sap_spark.config import EngineConfig
    from sap_spark.plans.lake import LakeTable
    from sap_spark.sources.datagen import write_change_log
    from sap_spark.streaming.multitable import (
        MultiTableCdcPipeline,
        TableTarget,
    )

    log = events.withColumn("table_name", F.lit("repos")).unionByName(
        events.withColumn("table_name", F.lit("meta"))
        .withColumn("repo", F.concat(F.lit("m/"), F.col("repo")))
        .drop("content"),
        allowMissingColumns=True,
    )
    base = _contract_workdir("sap_spark_contract_multitable-")
    write_change_log(log, f"{base}/log")
    meta_schema = StructType(
        [f for f in _REPLAY_TARGET_SCHEMA.fields if f.name != "content"]
    )
    t_repos = LakeTable.create(
        spark, f"{base}/repos", _REPLAY_TARGET_SCHEMA,
        key_columns=["repo", "path"], num_buckets=8,
    )
    t_meta = LakeTable.create(
        spark, f"{base}/meta", meta_schema,
        key_columns=["repo", "path"], num_buckets=4,
    )
    targets = {
        "repos": TableTarget(t_repos, EngineConfig().validate()),
        "meta": TableTarget(
            t_meta, EngineConfig(payload_columns=("commit", "lang")).validate()
        ),
    }
    MultiTableCdcPipeline(
        spark, targets, f"{base}/log",
        checkpoint_dir=f"{base}/ckpt",
        max_files_per_trigger=4,
        pipeline_id="contract-multitable",
    ).run_available_now(timeout_sec=600)
    rep = LakeTable(spark, t_repos.path).read().select(
        F.lit("repos").alias("table_name"), "repo", "path", "commit", "lang",
        F.sha2("content", 256).alias("content_sha"),
    )
    met = LakeTable(spark, t_meta.path).read().select(
        F.lit("meta").alias("table_name"), "repo", "path", "commit", "lang",
        F.lit(None).cast("string").alias("content_sha"),
    )
    return rep.unionByName(met)


def _cdc_engine_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star metric end-to-end through the ENGINE (both
    pipeline shapes), not just the fold operator: the staged synthetic
    log is replayed (a) through the single-table checkpointed
    :class:`CdcPipeline` and (b) through the :class:`MultiTableCdcPipeline`
    routing the same events to two tables with different payload
    projections; all three final TABLE STATES are returned tagged by
    table. Oracle: one independent DuckDB fold of the same staged bytes
    emitted once per table projection — the driver hash-checks that
    log → streaming engine → lake table(s) equals one declarative fold
    of the log, pinning checkpointing, epoch slicing, delta-token
    atomicity, routing and the MERGE sink. (Consolidated from the
    former cdc_pipeline_replay + cdc_multitable_replay so the contract
    stays inside the driver's 50-row verification window.)"""
    events = _staged_replay_log(spark)  # also points the oracle symlink
    single = _run_pipeline_replay(spark, events).select(
        F.lit("single").alias("table_name"),
        "repo", "path", "commit", "lang", "content_sha",
    )
    return single.unionByName(_run_multitable_replay(spark, events))


_CDC_ENGINE_REPLAY_SQL = f"""
    WITH log AS (
        SELECT * FROM read_parquet('{_cdc_replay_glob()}')
    ),
    cancelled AS (
        SELECT DISTINCT cancel_seq AS event_seq FROM log
        WHERE rocancel AND cancel_seq IS NOT NULL
    ),
    survivors AS (
        SELECT l.* FROM log l
        LEFT JOIN cancelled c USING (event_seq)
        WHERE NOT l.rocancel AND c.event_seq IS NULL
    ),
    latest AS (
        SELECT repo, path, commit, lang, content, op,
               row_number() OVER (
                   PARTITION BY repo, path
                   ORDER BY event_seq DESC, delta_token DESC
               ) AS rn
        FROM survivors
    ),
    final AS (
        SELECT repo, path, commit, lang, content
        FROM latest WHERE rn = 1 AND op <> 'D'
    )
    SELECT 'single' AS table_name, repo, path, commit, lang,
           sha256(content) AS content_sha
    FROM final
    UNION ALL
    SELECT 'repos' AS table_name, repo, path, commit, lang,
           sha256(content) AS content_sha
    FROM final
    UNION ALL
    SELECT 'meta' AS table_name, 'm/' || repo AS repo, path, commit, lang,
           CAST(NULL AS VARCHAR) AS content_sha
    FROM final
"""


def _events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: each event looks up the latest
    'checkpoint' event (event_id % 5 == 0) of the same user at or before
    its timestamp — one shuffle+sort union-window plan
    (operators/joins.asof_join); DuckDB mirrors with native ASOF JOIN."""
    from sap_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    right = (
        ev.where(F.pmod(F.col("event_id"), 5) == 0)
        .groupBy("user_id", F.col("ts").alias("rts"))
        .agg(F.max("event_id").alias("ref_event"))
    )
    left = ev.where(F.pmod(F.col("event_id"), 5) != 0).select(
        "user_id", "event_id", "ts"
    )
    out = asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="rts",
        value_cols=["ref_event"],
    )
    return out.select("user_id", "event_id", "ref_event")


_EVENTS_ASOF_SQL = """
    WITH r AS (
        SELECT user_id, ts AS rts, MAX(event_id) AS ref_event
        FROM events WHERE event_id % 5 = 0 GROUP BY user_id, ts
    ), l AS (
        SELECT user_id, event_id, ts FROM events WHERE event_id % 5 <> 0
    )
    SELECT l.user_id, l.event_id, r.ref_event
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.rts
"""


def _events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized point-in-interval join: each event vs the 12h windows
    opened by 'checkpoint' events (event_id % 7 == 0) of the same user —
    equi-join on (user, time-bin) + exact filter, never a per-key nested
    loop (operators/joins.range_join); DuckDB mirrors with an inequality
    join."""
    from sap_spark.operators.joins import range_join

    ev = _t(spark, sf_dir, "events")
    tsec = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000.0)
    base = ev.withColumn("p", tsec)
    intervals = base.where(F.pmod(F.col("event_id"), 7) == 0).select(
        "user_id",
        F.col("p").alias("s"),
        (F.col("p") + 43200).alias("e"),
        F.col("event_id").alias("iid"),
    )
    left = base.where(F.pmod(F.col("event_id"), 7) != 0).select(
        "user_id", "event_id", "p"
    )
    joined = range_join(
        left, intervals, on=["user_id"], left_point="p",
        right_start="s", right_end="e", bin_width=43200.0,
    )
    return joined.groupBy("user_id", "event_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.max("iid").alias("last_window"),
    )


_EVENTS_RANGE_JOIN_SQL = """
    WITH b AS (SELECT user_id, event_id, epoch(ts) AS p FROM events),
    i AS (SELECT user_id, p AS s, p + 43200 AS e, event_id AS iid
          FROM b WHERE event_id % 7 = 0),
    l AS (SELECT * FROM b WHERE event_id % 7 <> 0)
    SELECT l.user_id, l.event_id, COUNT(*) AS n_windows,
           MAX(i.iid) AS last_window
    FROM l JOIN i ON l.user_id = i.user_id AND l.p >= i.s AND l.p < i.e
    GROUP BY l.user_id, l.event_id
"""


def _events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (training-data log pipelines): per user,
    a >6h silence starts a new session (lag + cumulative-sum windows —
    the canonical two-window shape); one output row per session."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tsec = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000.0)
    base = ev.withColumn("__t", tsec)
    new_sess = F.when(
        F.col("__t") - F.lag("__t").over(w) > 21600, F.lit(1)
    ).otherwise(F.lit(0))
    sess = base.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


_EVENTS_SESSIONIZE_SQL = """
    WITH g AS (
        SELECT user_id, event_id, ts,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)) > 21600
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ), s AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM s GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# wire-format read path + decode kernels (oracle-checked against literal
# golden values; Spark computes through the real parsers/kernels, DuckDB
# states the expected outputs)
# ---------------------------------------------------------------------------

_ODATA2_FIXTURES = "/root/reference/src/test/resources/odata2"


def _odata2_feed_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/T-kernel wire path: parse the reference's V2 Atom-XML golden feed
    (byte-identical to what its WireMock ETL test serves) and decode every
    scalar kernel; binary checked via sha256."""
    from sap_spark.functions.decode import decode_entity
    from sap_spark.schema.metadata import resolve_entity_type
    from sap_spark.sources.odata_feed import parse_feed

    with open(f"{_ODATA2_FIXTURES}/metadata.xml") as f:
        entity = resolve_entity_type(f.read(), "AllDataTypes")
    with open(f"{_ODATA2_FIXTURES}/AllDataTypes.xml") as f:
        wire = parse_feed(spark, f.read(), entity, "2.0")
    d = decode_entity(wire, entity)
    return d.select(
        F.col("Id").alias("id"),
        F.col("Boolean").alias("bool_v"),
        F.col("Byte").alias("byte_v"),
        F.col("Int16").alias("i16"),
        F.col("Int32").alias("i32"),
        F.col("Int64").alias("i64"),
        F.col("SByte").alias("sbyte_v"),
        F.col("String").alias("str_v"),
        F.col("Guid").alias("guid"),
        F.col("Decimal").cast("double").alias("dec_v"),
        F.col("Single").cast("double").alias("single_v"),
        F.col("Double").alias("double_v"),
        F.col("Time").alias("time_micros"),
        F.col("DateTime").alias("dt"),
        F.col("DateTimeOffset").alias("dto"),
        F.sha2(F.col("Binary"), 256).alias("binary_sha"),
    )


_ODATA2_FEED_DECODE_SQL = """
    SELECT ('50000000' || i) AS id, true AS bool_v, 127 AS byte_v,
           32767 AS i16, 2147483647 AS i32, 9223372036854775807 AS i64,
           -128 AS sbyte_v, 'Some string' AS str_v,
           '484f2eb4-f60d-4652-8673-6517d7c64d0e' AS guid,
           123.456 AS dec_v,
           CAST(CAST('3.4028234663852886e+38' AS REAL) AS DOUBLE) AS single_v,
           1.7976931348623157e308 AS double_v,
           40259000000 AS time_micros,
           TIMESTAMP '1984-12-08 01:01:01' AS dt,
           '2002-10-10T17:00:01+01:00' AS dto,
           '7700820f75719b5f9e25c7d4f3468752ec6a909b5e6f0455eb31a3a645e21757'
               AS binary_sha
    FROM (VALUES (0), (1), (2)) t(i)
"""


def _events_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed percentiles (sort-based interpolated quantiles —
    the ordered-aggregate class): per-type quartiles of the value column."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", 0.25), 6).alias("q1"),
            F.round(F.percentile("value", 0.5), 6).alias("med"),
            F.round(F.percentile("value", 0.75), 6).alias("q3"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_EVENTS_VALUE_QUARTILES_SQL = """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS q1,
           round(quantile_cont(value, 0.5), 6) AS med,
           round(quantile_cont(value, 0.75), 6) AS q3,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
"""


def _events_apply_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OData aggregation extension ($apply — the grammar SAP
    analytics services speak): filter/groupby/aggregate pipeline
    translated to DataFrame ops by sources/odata_filter.parse_odata_apply."""
    from sap_spark.sources.changelog import ODataQueryOptions, apply_query_options

    ev = _t(spark, sf_dir, "events")
    opts = ODataQueryOptions.parse(
        "?$apply=filter(value gt 5.0)/groupby((event_type),"
        "aggregate(value with sum as total,value with average as avg_v,"
        "user_id with countdistinct as users,$count as n))"
    )
    out = apply_query_options(ev, opts)
    return out.select(
        "event_type",
        F.round("total", 6).alias("total"),
        F.round("avg_v", 6).alias("avg_v"),
        "users",
        "n",
    )


_EVENTS_APPLY_AGGREGATE_SQL = """
    SELECT event_type,
           round(SUM(value), 6) AS total,
           round(AVG(value), 6) AS avg_v,
           COUNT(DISTINCT user_id) AS users,
           COUNT(*) AS n
    FROM events
    WHERE value > 5.0
    GROUP BY event_type
"""


def _orders_ntile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window family: ntile / percent_rank / dense_rank per
    customer over a unique order (deterministic across engines)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.dense_rank().over(w).alias("drank"),
    )


_ORDERS_NTILE_SQL = """
    SELECT o_custkey, o_orderkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           dense_rank() OVER w AS drank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
"""


def _customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (the EXISTS shape): customers holding at least one
    order above the threshold — existence check, no row multiplication."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 400000.0)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


_CUSTOMERS_WITH_BIG_ORDERS_SQL = """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
    )
"""


def _events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/joins.interval_join): two interval
    sets derived from events, joined bucketized (explode-to-bins
    equi-join + claim-bin dedup — never a per-key nested loop) and
    checked against DuckDB's inequality join."""
    from sap_spark.operators.joins import interval_join

    # modulus scoping keeps both sides non-empty (non-vacuous) at EVERY
    # scale factor while bounding the candidate-pair volume to ~5% x 5%
    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_id") % 20 == 0).select(
        F.pmod(F.col("user_id"), F.lit(20)).alias("k"),
        F.col("value").alias("ls"),
        (F.col("value") + 8.0).alias("le"),
        F.col("event_id").alias("lid"),
    )
    right = ev.where(F.col("event_id") % 20 == 1).select(
        F.pmod(F.col("user_id"), F.lit(20)).alias("k"),
        F.col("value").alias("rs"),
        (F.col("value") + 5.0).alias("re"),
        F.col("event_id").alias("rid"),
    )
    out = interval_join(left, right, ["k"], "ls", "le", "rs", "re", bin_width=10.0)
    return out.select("k", "lid", "rid")


_EVENTS_INTERVAL_JOIN_SQL = """
    WITH l AS (
        SELECT user_id % 20 AS k, value AS ls, value + 8.0 AS le,
               event_id AS lid
        FROM events WHERE event_id % 20 = 0
    ), r AS (
        SELECT user_id % 20 AS k, value AS rs, value + 5.0 AS re,
               event_id AS rid
        FROM events WHERE event_id % 20 = 1
    )
    SELECT l.k AS k, lid, rid
    FROM l JOIN r ON l.k = r.k AND l.ls < r.re AND r.rs < l.le
"""


def _orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries (Catalyst decorrelates them into
    aggregates + joins — no per-row re-execution), via the SQL API.
    The "price > 1.5× customer average" predicate is stated without any
    float division — price·count > 1.5·sum in exact decimal arithmetic —
    so the boundary cannot drift by engine summation order."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS total
        FROM v_orders o
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (
                SELECT COUNT(*) FROM v_orders o2
                WHERE o2.o_custkey = o.o_custkey
              ) > 1.5 * (
                SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                FROM v_orders o2 WHERE o2.o_custkey = o.o_custkey
              )
        """
    )


_ORDERS_ABOVE_AVG_SQL = """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS total
    FROM orders o
    WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (
            SELECT COUNT(*) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
          ) > 1.5 * (
            SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
            FROM orders o2 WHERE o2.o_custkey = o.o_custkey
          )
"""


def _customers_repeat_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set operation: customers active in BOTH halves of the
    order-date range (hash-dedup set semantics, one shuffle per side)."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("v_orders2")
    return spark.sql(
        """
        SELECT o_custkey FROM v_orders2 WHERE o_orderdate <  TIMESTAMP '1995-06-01'
        INTERSECT
        SELECT o_custkey FROM v_orders2 WHERE o_orderdate >= TIMESTAMP '1995-06-01'
        """
    )


_CUSTOMERS_REPEAT_SQL = """
    SELECT o_custkey FROM orders WHERE o_orderdate <  TIMESTAMP '1995-06-01'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-06-01'
"""


def _events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: JSON property extraction from the events
    props column (get_json_object — JVM-side JSON path, no UDF),
    aggregated per type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


_EVENTS_PROPS_JSON_SQL = """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
"""


def _orders_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window + date arithmetic: per customer, days since the
    previous order (the sessionization building block on business data)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


_ORDERS_LAG_GAP_SQL = """
    SELECT o_custkey, o_orderkey,
           date_diff('day',
                     lag(CAST(o_orderdate AS DATE)) OVER w,
                     CAST(o_orderdate AS DATE)) AS days_since_prev,
           lead(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def _lineitem_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-frame window: cumulative revenue per supplier in ship
    order plus the per-supplier line rank. Decimal-cast before the sum so
    the accumulation is exact (bit-stable across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).alias("line_rank"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .over(running)
        .cast("double")
        .alias("running_revenue"),
    )


_LINEITEM_RUNNING_SQL = """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           row_number() OVER w AS line_rank,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
"""


def _events_filter_odata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 in the reference's own grammar: a $filter written in the OData
    expression language (substringof, eq/gt/ge, and/not, datetime'...'
    literal — the surface of docs/SapEcc-batchsource.md:30-33) translated
    to Catalyst by sources/odata_filter.py; predicates reach the parquet
    scan as PushedFilters (plan-asserted in tests/test_odata_filter.py)."""
    from sap_spark.sources.changelog import ODataQueryOptions, apply_query_options

    ev = _t(spark, sf_dir, "events")
    opts = ODataQueryOptions.parse(
        "?$filter=substringof('ck', event_type) and value gt 10.0"
        " and user_id ne null and ts ge datetime'2024-01-10T00:00:00'"
        "&$orderby=event_id asc&$top=100&$select=event_id,event_type,value"
    )
    out = apply_query_options(ev, opts)
    return out.withColumn("value", F.round("value", 6))


_EVENTS_FILTER_ODATA_SQL = """
    SELECT event_id, event_type, round(value, 6) AS value
    FROM events
    WHERE event_type LIKE '%ck%' AND value > 10.0
      AND user_id IS NOT NULL AND ts >= TIMESTAMP '2024-01-10 00:00:00'
    ORDER BY event_id ASC
    LIMIT 100
"""


def _events_odata_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The V4 grammar subset beyond the reference's documented V2 surface:
    property paths over a struct-promoted props column (``props_s/k``) and
    any/all collection lambdas (→ F.exists/F.forall) over a derived tags
    array — all parsed by sources/odata_filter.py, no hand-built Columns
    in the predicate."""
    from sap_spark.sources.odata_filter import parse_odata_filter

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("props_s", F.from_json("props", "k int"))
        .withColumn(
            "tags",
            F.array(
                F.col("event_type"),
                F.when(F.col("value") > 100, F.lit("big")).otherwise(
                    F.lit("small")
                ),
            ),
        )
    )
    cond = parse_odata_filter("props_s/k gt 50 and tags/any(t: t eq 'big')")
    all_short = parse_odata_filter("tags/all(t: length(t) le 5)")
    return (
        ev.where(cond)
        .select(
            "event_id",
            "event_type",
            F.col("props_s.k").alias("k"),
            F.round("value", 2).alias("value_r"),
            all_short.alias("all_short"),
        )
        .orderBy("event_id")
        .limit(100)
    )


_EVENTS_ODATA_LAMBDA_SQL = """
    SELECT event_id, event_type,
           CAST(json_extract(props, '$.k') AS INT) AS k,
           ROUND(value, 2) AS value_r,
           (length(event_type) <= 5 AND
            length(CASE WHEN value > 100 THEN 'big' ELSE 'small' END) <= 5
           ) AS all_short
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS INT) > 50
      AND list_contains(
            [event_type, CASE WHEN value > 100 THEN 'big' ELSE 'small' END],
            'big')
    ORDER BY event_id
    LIMIT 100
"""


_ODATA4_FIXTURES = "/root/reference/src/test/resources/odata4"


def _odata4_feed_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/T-kernel V4 wire path: parse BOTH of the reference's V4 golden
    feeds — the JSON document (GeoJSON geo payloads, @odata.media*
    stream annotations) and the Atom-XML document (GML geo payloads,
    edit-media link elements) — through parse_feed + decode_entity, and
    render every V4-only kernel family to DuckDB-stateable columns:
    geo structs (T15-T20, incl. GML→GeoJSON) via to_json, the
    StreamProperty struct (T13/T14) flattened, Date/Duration/TimeOfDay
    (T8/T11/T9), binary via sha256. Mirrors the reference's
    etl/SapOData4SourceETLTest.java:75-168 fixture matrix."""
    from sap_spark.functions.decode import decode_entity
    from sap_spark.schema.metadata import resolve_entity_type
    from sap_spark.sources.odata_feed import parse_feed

    with open(f"{_ODATA4_FIXTURES}/metadata.xml") as f:
        entity = resolve_entity_type(f.read(), "AllDataTypes")

    outs = []
    for fmt, fixture in (("json", "AllDataTypes.json"), ("xml", "AllDataTypes.xml")):
        with open(f"{_ODATA4_FIXTURES}/{fixture}") as f:
            wire = parse_feed(spark, f.read(), entity, "4.0")
        d = decode_entity(wire, entity)
        outs.append(
            d.select(
                F.lit(fmt).alias("fmt"),
                F.col("Int32").alias("id"),
                F.col("Boolean").alias("bool_v"),
                F.col("Byte").alias("byte_v"),
                F.col("SByte").alias("sbyte_v"),
                F.col("Int16").alias("i16"),
                F.col("Int64").alias("i64"),
                F.col("Single").cast("double").alias("single_v"),
                F.col("Double").alias("double_v"),
                F.col("Decimal").cast("double").alias("dec_v"),
                F.col("Guid").alias("guid"),
                F.col("String").alias("str_v"),
                F.col("Date").alias("date_ts"),
                F.col("DateTimeOffset").alias("dto"),
                F.col("Duration").alias("dur"),
                F.col("TimeOfDay").alias("tod_micros"),
                F.sha2(F.col("Binary"), 256).alias("binary_sha"),
                F.col("Stream.mediaEtag").alias("stream_etag"),
                F.col("Stream.mediaContentType").alias("stream_ctype"),
                F.col("Stream.mediaReadLink").alias("stream_read"),
                F.col("Stream.mediaEditLink").alias("stream_edit"),
                F.to_json(F.col("GeographyPoint")).alias("g_point"),
                F.to_json(F.col("GeographyLineString")).alias("g_line"),
                F.to_json(F.col("GeographyPolygon")).alias("g_poly"),
                F.to_json(F.col("GeographyMultiPoint")).alias("g_mpoint"),
                F.to_json(F.col("GeographyMultiLineString")).alias("g_mline"),
                F.to_json(F.col("GeographyMultiPolygon")).alias("g_mpoly"),
                F.to_json(F.col("GeographyCollection")).alias("g_coll"),
                F.to_json(F.col("GeometryPoint")).alias("m_point"),
            )
        )
    return outs[0].unionByName(outs[1])


_ODATA4_FEED_DECODE_SQL = """
    SELECT * FROM (VALUES
        ('json',
         1,
         true,
         127,
         -128,
         1,
         9223372036854775807,
         3.140000104904175,
         9.402823466385289e+38,
         123.456,
         '484f2eb4-f60d-4652-8673-6517d7c64d0e',
         'DEMO',
         TIMESTAMP '2012-12-03 00:00:00',
         '2002-10-10T17:00:01+01:00',
         'P12DT23H59M59.999999999999S',
         28799999000,
         '96b66bff7c5b3054f1efa29d3deae34a22198772a90aeeaac87d70abf96fef93',
         'W/"####"',
         'image/jpeg',
         'http://placehold.it/10x10.jpg?read',
         'http://placehold.it/10x10.jpg?edit',
         '{"dimension":"GEOGRAPHY","x":142.1,"y":64.1,"z":0.0}',
         '{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":100.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":101.0,"y":1.0,"z":0.0}]}',
         '{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":100.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":101.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":101.0,"y":1.0,"z":0.0},{"dimension":"GEOGRAPHY","x":100.0,"y":1.0,"z":0.0},{"dimension":"GEOGRAPHY","x":100.0,"y":0.0,"z":0.0}],"interior":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":100.2,"y":0.2,"z":0.0},{"dimension":"GEOGRAPHY","x":100.8,"y":0.2,"z":0.0},{"dimension":"GEOGRAPHY","x":100.8,"y":0.8,"z":0.0},{"dimension":"GEOGRAPHY","x":100.2,"y":0.8,"z":0.0},{"dimension":"GEOGRAPHY","x":100.2,"y":0.2,"z":0.0}]}],"numberOfInteriorRings":1}',
         '{"type":"MultiPoint","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":2.5,"y":3.125,"z":0.0},{"dimension":"GEOGRAPHY","x":3.5,"y":4.125,"z":0.0},{"dimension":"GEOGRAPHY","x":4.5,"y":5.125,"z":0.0}]}',
         '{"type":"MultiLineString","dimension":"GEOGRAPHY","coordinates":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":1.0,"y":1.0,"z":0.0},{"dimension":"GEOGRAPHY","x":2.0,"y":2.0,"z":0.0},{"dimension":"GEOGRAPHY","x":3.0,"y":3.0,"z":0.0},{"dimension":"GEOGRAPHY","x":4.0,"y":4.0,"z":0.0},{"dimension":"GEOGRAPHY","x":5.0,"y":5.0,"z":0.0}]},{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":99.5,"y":101.5,"z":0.0},{"dimension":"GEOGRAPHY","x":150.0,"y":151.25,"z":0.0}]}]}',
         '{"type":"MultiPolygon","dimension":"GEOGRAPHY","coordinates":[{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":0.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":3.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":3.0,"y":3.0,"z":0.0},{"dimension":"GEOGRAPHY","x":0.0,"y":3.0,"z":0.0},{"dimension":"GEOGRAPHY","x":0.0,"y":0.0,"z":0.0}],"interior":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":1.0,"y":1.0,"z":0.0},{"dimension":"GEOGRAPHY","x":1.0,"y":2.0,"z":0.0},{"dimension":"GEOGRAPHY","x":2.0,"y":2.0,"z":0.0},{"dimension":"GEOGRAPHY","x":2.0,"y":1.0,"z":0.0},{"dimension":"GEOGRAPHY","x":1.0,"y":1.0,"z":0.0}]}],"numberOfInteriorRings":1},{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":0.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":30.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":0.0,"y":30.0,"z":0.0},{"dimension":"GEOGRAPHY","x":0.0,"y":0.0,"z":0.0}],"interior":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":10.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":20.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0}]}],"numberOfInteriorRings":1}]}',
         '{"type":"GeometryCollection","dimension":"GEOGRAPHY","points":[{"dimension":"GEOGRAPHY","x":100.0,"y":0.0,"z":0.0}],"lineStrings":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":101.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":102.0,"y":1.0,"z":0.0}]}],"polygons":[],"multiPoints":[],"multiLineStrings":[],"multiPolygons":[]}',
         '{"dimension":"GEOMETRY","x":142.1,"y":64.1,"z":0.0}'),
        ('json',
         2,
         true,
         127,
         -128,
         2,
         9223372036854775807,
         -3.140000104904175,
         9.402823466385289e+38,
         123.456,
         '484f2eb4-f60d-4652-8673-6517d7c64d0e',
         'DEMO',
         TIMESTAMP '2012-12-03 00:00:00',
         '2002-10-10T17:00:01+01:00',
         'P12DT23H59M59.999999999999S',
         28799999000,
         '96b66bff7c5b3054f1efa29d3deae34a22198772a90aeeaac87d70abf96fef93',
         'W/"####"',
         'image/jpeg',
         'http://placehold.it/10x10.jpg?read',
         'http://placehold.it/10x10.jpg?edit',
         '{"dimension":"GEOGRAPHY","x":142.1,"y":64.1,"z":0.0}',
         '{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":100.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":101.0,"y":1.0,"z":0.0}]}',
         '{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":100.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":101.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":101.0,"y":1.0,"z":0.0},{"dimension":"GEOGRAPHY","x":100.0,"y":1.0,"z":0.0},{"dimension":"GEOGRAPHY","x":100.0,"y":0.0,"z":0.0}],"interior":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":100.2,"y":0.2,"z":0.0},{"dimension":"GEOGRAPHY","x":100.8,"y":0.2,"z":0.0},{"dimension":"GEOGRAPHY","x":100.8,"y":0.8,"z":0.0},{"dimension":"GEOGRAPHY","x":100.2,"y":0.8,"z":0.0},{"dimension":"GEOGRAPHY","x":100.2,"y":0.2,"z":0.0}]}],"numberOfInteriorRings":1}',
         '{"type":"MultiPoint","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":2.5,"y":3.125,"z":0.0},{"dimension":"GEOGRAPHY","x":3.5,"y":4.125,"z":0.0},{"dimension":"GEOGRAPHY","x":4.5,"y":5.125,"z":0.0}]}',
         '{"type":"MultiLineString","dimension":"GEOGRAPHY","coordinates":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":1.0,"y":1.0,"z":0.0},{"dimension":"GEOGRAPHY","x":2.0,"y":2.0,"z":0.0},{"dimension":"GEOGRAPHY","x":3.0,"y":3.0,"z":0.0},{"dimension":"GEOGRAPHY","x":4.0,"y":4.0,"z":0.0},{"dimension":"GEOGRAPHY","x":5.0,"y":5.0,"z":0.0}]},{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":99.5,"y":101.5,"z":0.0},{"dimension":"GEOGRAPHY","x":150.0,"y":151.25,"z":0.0}]}]}',
         '{"type":"MultiPolygon","dimension":"GEOGRAPHY","coordinates":[{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":0.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":3.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":3.0,"y":3.0,"z":0.0},{"dimension":"GEOGRAPHY","x":0.0,"y":3.0,"z":0.0},{"dimension":"GEOGRAPHY","x":0.0,"y":0.0,"z":0.0}],"interior":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":1.0,"y":1.0,"z":0.0},{"dimension":"GEOGRAPHY","x":1.0,"y":2.0,"z":0.0},{"dimension":"GEOGRAPHY","x":2.0,"y":2.0,"z":0.0},{"dimension":"GEOGRAPHY","x":2.0,"y":1.0,"z":0.0},{"dimension":"GEOGRAPHY","x":1.0,"y":1.0,"z":0.0}]}],"numberOfInteriorRings":1},{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":0.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":30.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":0.0,"y":30.0,"z":0.0},{"dimension":"GEOGRAPHY","x":0.0,"y":0.0,"z":0.0}],"interior":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":10.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":20.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0}]}],"numberOfInteriorRings":1}]}',
         '{"type":"GeometryCollection","dimension":"GEOGRAPHY","points":[{"dimension":"GEOGRAPHY","x":100.0,"y":0.0,"z":0.0}],"lineStrings":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":101.0,"y":0.0,"z":0.0},{"dimension":"GEOGRAPHY","x":102.0,"y":1.0,"z":0.0}]}],"polygons":[],"multiPoints":[],"multiLineStrings":[],"multiPolygons":[]}',
         '{"dimension":"GEOMETRY","x":142.1,"y":64.1,"z":0.0}'),
        ('xml',
         3,
         true,
         127,
         -128,
         3,
         9223372036854775807,
         3.1410000324249268,
         1.234,
         123.456,
         '484f2eb4-f60d-4652-8673-6517d7c64d0e',
         'Jacob',
         TIMESTAMP '2012-12-03 00:00:00',
         '2010-12-13T00:00:00+00:00',
         'P12DT23H59M59.999999999999S',
         28799999000,
         '242757acb8b577ac96443ba4ddcb92e9f6f9e4cd6087aafcc859d1b6ce1650c4',
         NULL,
         NULL,
         NULL,
         'AllDataTypes(3)/Stream',
         '{"dimension":"GEOGRAPHY","x":15.0,"y":161.8,"z":0.0}',
         '{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":20.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":10.0,"z":0.0}]}',
         '{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":10.0,"y":40.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":40.0,"z":0.0}],"interior":[],"numberOfInteriorRings":0}',
         '{"type":"MultiPoint","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":47.38,"y":-122.7,"z":0.0}]}',
         '{"type":"MultiLineString","dimension":"GEOGRAPHY","coordinates":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":10.5,"y":10.5,"z":0.0},{"dimension":"GEOGRAPHY","x":20.5,"y":20.5,"z":0.0},{"dimension":"GEOGRAPHY","x":40.5,"y":10.5,"z":0.0}]},{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":40.5,"y":40.5,"z":0.0},{"dimension":"GEOGRAPHY","x":30.5,"y":30.5,"z":0.0},{"dimension":"GEOGRAPHY","x":20.5,"y":40.5,"z":0.0},{"dimension":"GEOGRAPHY","x":10.5,"y":30.5,"z":0.0}]}]}',
         '{"type":"MultiPolygon","dimension":"GEOGRAPHY","coordinates":[{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":40.0,"y":40.0,"z":0.0},{"dimension":"GEOGRAPHY","x":45.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":30.0,"y":45.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":40.0,"z":0.0}],"interior":[],"numberOfInteriorRings":0},{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":35.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":20.0,"y":45.0,"z":0.0},{"dimension":"GEOGRAPHY","x":5.0,"y":30.0,"z":0.0},{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":30.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":35.0,"y":20.0,"z":0.0}],"interior":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":20.0,"y":30.0,"z":0.0},{"dimension":"GEOGRAPHY","x":25.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":15.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":20.0,"y":30.0,"z":0.0}]}],"numberOfInteriorRings":1}]}',
         '{"type":"GeometryCollection","dimension":"GEOGRAPHY","points":[],"lineStrings":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":20.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":10.0,"z":0.0}]}],"polygons":[{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":10.0,"y":40.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":40.0,"z":0.0}],"interior":[],"numberOfInteriorRings":0}],"multiPoints":[],"multiLineStrings":[],"multiPolygons":[]}',
         '{"dimension":"GEOMETRY","x":15.0,"y":161.8,"z":0.0}'),
        ('xml',
         4,
         true,
         127,
         -128,
         4,
         9223372036854775807,
         3.1410000324249268,
         1.234,
         123.456,
         '484f2eb4-f60d-4652-8673-6517d7c64d0e',
         'Elmo',
         TIMESTAMP '2012-12-03 00:00:00',
         '2010-12-13T00:00:00+00:00',
         'P12DT23H59M59.999999999999S',
         28799999000,
         '242757acb8b577ac96443ba4ddcb92e9f6f9e4cd6087aafcc859d1b6ce1650c4',
         NULL,
         NULL,
         NULL,
         'AllDataTypes(4)/Stream',
         '{"dimension":"GEOGRAPHY","x":-15.0,"y":-61.8,"z":0.0}',
         '{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":20.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":10.0,"z":0.0}]}',
         '{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":10.0,"y":40.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":40.0,"z":0.0}],"interior":[],"numberOfInteriorRings":0}',
         '{"type":"MultiPoint","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":47.38,"y":-122.7,"z":0.0}]}',
         '{"type":"MultiLineString","dimension":"GEOGRAPHY","coordinates":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":10.5,"y":10.5,"z":0.0},{"dimension":"GEOGRAPHY","x":20.5,"y":20.5,"z":0.0},{"dimension":"GEOGRAPHY","x":40.5,"y":10.5,"z":0.0}]},{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":40.5,"y":40.5,"z":0.0},{"dimension":"GEOGRAPHY","x":30.5,"y":30.5,"z":0.0},{"dimension":"GEOGRAPHY","x":20.5,"y":40.5,"z":0.0},{"dimension":"GEOGRAPHY","x":10.5,"y":30.5,"z":0.0}]}]}',
         '{"type":"MultiPolygon","dimension":"GEOGRAPHY","coordinates":[{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":40.0,"y":40.0,"z":0.0},{"dimension":"GEOGRAPHY","x":45.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":30.0,"y":45.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":40.0,"z":0.0}],"interior":[],"numberOfInteriorRings":0},{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":35.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":20.0,"y":45.0,"z":0.0},{"dimension":"GEOGRAPHY","x":5.0,"y":30.0,"z":0.0},{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":30.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":35.0,"y":20.0,"z":0.0}],"interior":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":20.0,"y":30.0,"z":0.0},{"dimension":"GEOGRAPHY","x":25.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":15.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":20.0,"y":30.0,"z":0.0}]}],"numberOfInteriorRings":1}]}',
         '{"type":"GeometryCollection","dimension":"GEOGRAPHY","points":[],"lineStrings":[{"type":"LineString","dimension":"GEOGRAPHY","coordinates":[{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":20.0,"y":20.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":10.0,"z":0.0}]}],"polygons":[{"type":"Polygon","dimension":"GEOGRAPHY","exterior":[{"dimension":"GEOGRAPHY","x":10.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":10.0,"y":40.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":10.0,"z":0.0},{"dimension":"GEOGRAPHY","x":40.0,"y":40.0,"z":0.0}],"interior":[],"numberOfInteriorRings":0}],"multiPoints":[],"multiLineStrings":[],"multiPolygons":[]}',
         '{"dimension":"GEOMETRY","x":15.0,"y":161.8,"z":0.0}')
    ) t(fmt, id, bool_v, byte_v, sbyte_v, i16, i64, single_v, double_v, dec_v, guid, str_v, date_ts, dto, dur, tod_micros, binary_sha, stream_etag, stream_ctype, stream_read, stream_edit, g_point, g_line, g_poly, g_mpoint, g_mline, g_mpoly, g_coll, m_point)
"""


def _decode_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined single-kernel decode matrix (T8 timestamp, T10
    DateTimeOffset offset-preserving render, T11 ISO-8601 duration from
    both wire forms, T12 strict HALF_EVEN decimal) — one row set, four
    decoded columns, null propagation (T1) on the padded tail. The full
    wire-path coverage of these kernels lives in odata2_feed_decode /
    odata4_feed_decode; this query pins the literal edge cases."""
    from sap_spark.functions.decode import (
        decode_datetimeoffset,
        decode_duration,
        decode_timestamp,
        make_decimal_decoder,
    )

    rows = [
        (1, "0", "2002-10-10T17:00:01+01:00", "123.45", "1984-12-08T01:01:01"),
        (2, "0.5", "2019-08-29T14:52:08.155+02:00", "-0.01", "2012-12-03"),
        (3, "59.999", "2010-12-13T00:00:00Z", "9999.99",
         "2002-10-10 17:00:01.123456"),
        (4, "60", "2019-01-01T00:00:00.120Z", "0", None),
        (5, "3600", "1984-12-08 01:01:01-05:30", "1234.565", None),
        (6, "86400", None, "1234.575", None),
        (7, "90061.5", None, None, None),
        (8, "-90061.5", None, None, None),
        (9, "1.500", None, None, None),
        (10, "1123199.999999999999", None, None, None),
        (11, "P12DT23H59M59.999999999999S", None, None, None),
        (12, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "id int, w_dur string, w_dto string, w_dec string, w_ts string"
    )
    dec = make_decimal_decoder("w_dec", 6, 2)
    return df.select(
        "id",
        decode_duration("w_dur", F.col("w_dur")).alias("iso"),
        decode_datetimeoffset("w_dto", F.col("w_dto")).alias("dto"),
        dec(F.col("w_dec")).cast("double").alias("dec_v"),
        decode_timestamp("w_ts", F.col("w_ts")).alias("ts_v"),
    )


_DECODE_KERNELS_SQL = """
    SELECT * FROM (VALUES
        (1, 'PT0S', '2002-10-10T17:00:01+01:00', 123.45,
            TIMESTAMP '1984-12-08 01:01:01'),
        (2, 'PT0.5S', '2019-08-29T14:52:08.155+02:00', -0.01,
            TIMESTAMP '2012-12-03 00:00:00'),
        (3, 'PT59.999S', '2010-12-13T00:00:00+00:00', 9999.99,
            TIMESTAMP '2002-10-10 17:00:01.123456'),
        (4, 'PT1M', '2019-01-01T00:00:00.12+00:00', 0.0, NULL),
        (5, 'PT1H', '1984-12-08T01:01:01-05:30', 1234.56, NULL),
        (6, 'P1D', NULL, 1234.58, NULL),
        (7, 'P1DT1H1M1.5S', NULL, NULL, NULL),
        (8, '-P1DT1H1M1.5S', NULL, NULL, NULL),
        (9, 'PT1.5S', NULL, NULL, NULL),
        (10, 'P12DT23H59M59.999999999999S', NULL, NULL, NULL),
        (11, 'P12DT23H59M59.999999999999S', NULL, NULL, NULL),
        (12, NULL, NULL, NULL, NULL)
    ) t(id, iso, dto, dec_v, ts_v)
"""


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_lww_latest": _cdc_lww_events,
        "cdc_lww_window_salted": _cdc_lww_events_window,
        "events_filter_topn": _events_filter_topn,
        "events_filter_odata": _events_filter_odata,
        "events_odata_lambda": _events_odata_lambda,
        "events_page": _events_page,
        "pricing_summary": _pricing_summary,
        "revenue_by_nation": _revenue_by_nation,
        "top_orders_per_customer": _top_orders_per_customer,
        "customers_without_big_orders": _customers_without_big_orders,
        "supplier_part_stats": _supplier_part_stats,
        "docs_exact_dedup": _docs_exact_dedup,
        "docs_lang_profile": _docs_lang_profile,
        "docs_token_stats": _docs_token_stats,
        "docs_pack_sequences": _docs_pack_sequences,
        "docs_top_words": _docs_top_words,
        "docs_snapshot_diff": _docs_snapshot_diff,
        "emb_cosine_topk": _emb_cosine_topk,
        "events_hourly_window": _events_hourly_window,
        "orders_grouping_sets": _orders_grouping_sets,
        "events_value_quartiles": _events_value_quartiles,
        "events_props_json": _events_props_json,
        "events_apply_aggregate": _events_apply_aggregate,
        "orders_above_customer_avg": _orders_above_customer_avg,
        "events_interval_join": _events_interval_join,
        "orders_ntile_ranks": _orders_ntile_ranks,
        "customers_with_big_orders": _customers_with_big_orders,
        "customers_repeat_window": _customers_repeat_window,
        "orders_lag_gap": _orders_lag_gap,
        "lineitem_running_totals": _lineitem_running_totals,
        "events_type_pivot": _events_type_pivot,
        "nations_customers_only": _nations_customers_only,
        "lineitem_decimal_totals": _lineitem_decimal_totals,
        "events_time_micros": _events_time_micros,
        "docs_sha256": _docs_sha256,
        "events_sessionize": _events_sessionize,
        "events_asof_join": _events_asof_join,
        "events_range_join": _events_range_join,
        "odata2_feed_decode": _odata2_feed_decode,
        "odata4_feed_decode": _odata4_feed_decode,
        "decode_kernels": _decode_kernels,
        "cdc_engine_replay": _cdc_engine_replay,
        "cdc_replay_synthetic": _cdc_replay_synthetic,
        "docs_quality_lang": _docs_quality_lang,
        "docs_stratified_sample": _docs_stratified_sample,
        "docs_neardup_methods": _docs_neardup_methods,
        "emb_cosine_dedup": _emb_cosine_dedup,
        "cdc_token_progress": _cdc_token_progress,
        # rows-only (approximate top-k; pytest-pinned)
        "emb_ann_methods": _emb_ann_methods,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_lww_latest": _CDC_LWW_SQL,
        "cdc_lww_window_salted": _CDC_LWW_WINDOW_SQL,
        "events_filter_topn": _EVENTS_FILTER_TOPN_SQL,
        "events_filter_odata": _EVENTS_FILTER_ODATA_SQL,
        "events_odata_lambda": _EVENTS_ODATA_LAMBDA_SQL,
        "events_page": _EVENTS_PAGE_SQL,
        "pricing_summary": _PRICING_SUMMARY_SQL,
        "revenue_by_nation": _REVENUE_BY_NATION_SQL,
        "top_orders_per_customer": _TOP_ORDERS_SQL,
        "customers_without_big_orders": _CUSTOMERS_WITHOUT_BIG_ORDERS_SQL,
        "supplier_part_stats": _SUPPLIER_PART_STATS_SQL,
        "docs_exact_dedup": _DOCS_EXACT_DEDUP_SQL,
        "docs_lang_profile": _DOCS_LANG_PROFILE_SQL,
        "docs_quality_lang": _DOCS_QUALITY_LANG_SQL,
        "docs_stratified_sample": _DOCS_STRATIFIED_SAMPLE_SQL,
        "docs_token_stats": _DOCS_TOKEN_STATS_SQL,
        "docs_pack_sequences": _DOCS_PACK_SEQUENCES_SQL,
        "docs_top_words": _DOCS_TOP_WORDS_SQL,
        "docs_snapshot_diff": _DOCS_SNAPSHOT_DIFF_SQL,
        "emb_cosine_topk": _EMB_COSINE_TOPK_SQL,
        "events_hourly_window": _EVENTS_HOURLY_WINDOW_SQL,
        "orders_grouping_sets": _ORDERS_GROUPING_SETS_SQL,
        "events_value_quartiles": _EVENTS_VALUE_QUARTILES_SQL,
        "events_props_json": _EVENTS_PROPS_JSON_SQL,
        "events_apply_aggregate": _EVENTS_APPLY_AGGREGATE_SQL,
        "orders_above_customer_avg": _ORDERS_ABOVE_AVG_SQL,
        "events_interval_join": _EVENTS_INTERVAL_JOIN_SQL,
        "orders_ntile_ranks": _ORDERS_NTILE_SQL,
        "customers_with_big_orders": _CUSTOMERS_WITH_BIG_ORDERS_SQL,
        "customers_repeat_window": _CUSTOMERS_REPEAT_SQL,
        "orders_lag_gap": _ORDERS_LAG_GAP_SQL,
        "lineitem_running_totals": _LINEITEM_RUNNING_SQL,
        "events_type_pivot": _EVENTS_TYPE_PIVOT_SQL,
        "nations_customers_only": _NATIONS_CUSTOMERS_ONLY_SQL,
        "lineitem_decimal_totals": _LINEITEM_DECIMAL_TOTALS_SQL,
        "events_time_micros": _EVENTS_TIME_MICROS_SQL,
        "docs_sha256": _DOCS_SHA256_SQL,
        "events_sessionize": _EVENTS_SESSIONIZE_SQL,
        "events_asof_join": _EVENTS_ASOF_SQL,
        "events_range_join": _EVENTS_RANGE_JOIN_SQL,
        "odata2_feed_decode": _ODATA2_FEED_DECODE_SQL,
        "odata4_feed_decode": _ODATA4_FEED_DECODE_SQL,
        "decode_kernels": _DECODE_KERNELS_SQL,
        # the north-star replay, hash-checked against an independent
        # DuckDB fold of the same staged log (requires the Spark query to
        # have run first — it stages the log parquet the SQL reads)
        "cdc_replay_synthetic": _CDC_REPLAY_SQL,
        # the same independent DuckDB fold, but the Spark side runs the
        # full checkpointed streaming engine into lake tables — single-
        # table pipeline plus one shared log routed to two tables, the
        # fold emitted once per table projection (requires the Spark
        # query to have run first — it stages the log)
        "cdc_engine_replay": _CDC_ENGINE_REPLAY_SQL,
        # banded-LSH near-dup vs exhaustive-pair + recursive-CTE components
        "emb_cosine_dedup": _EMB_COSINE_DEDUP_SQL,
        # per-token ops metrics over the same staged log (HLL column
        # excluded — engine-specific sketch, pytest-pinned accuracy)
        "cdc_token_progress": _cdc_token_progress_sql(),
        # all three text near-dup methods vs exhaustive ground truth
        # (exact verify stages + recall-1 candidates; portable sha256
        # SimHash — see _docs_neardup_methods docstring)
        "docs_neardup_methods": _DOCS_NEARDUP_SQL,
        # intentionally no oracle for: emb_ann_methods (approximate
        # top-k — semantics pinned in tests).
    }
