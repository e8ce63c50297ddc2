"""Final-state oracle, independent of the engine's Spark fold.

DuckDB folds the same parquet inputs the engine ingested, by the rules of
``tests/oracle.py``: total order is ``event_seq``; a redelivered event
(same seq) applies once; a ROCANCEL event never applies and erases the
event whose seq is its ``cancel_seq``; a null op is inert; the last
surviving event per key decides (D removes the key). Keys of an optional
base snapshot that no surviving event touches keep their base row.

The engine's final table is exported to parquet and compared row for row
(``EXCEPT ALL`` both ways), so a single wrong, missing or extra row fails.
"""

from __future__ import annotations

import os

from perfbench.inputs import COLUMNS


def _connect(workdir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    tmp = os.path.join(workdir, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _expected_sql(events_glob: str, base_path: str | None) -> str:
    cols = ", ".join(COLUMNS)
    base = (
        f"SELECT {cols} FROM read_parquet('{base_path}/*.parquet')"
        if base_path
        else f"SELECT {cols} FROM last WHERE false"
    )
    return f"""
    WITH ev AS (
        SELECT * FROM read_parquet('{events_glob}', hive_partitioning = true)
    ),
    once AS (
        SELECT * FROM ev
        QUALIFY row_number() OVER (PARTITION BY event_seq ORDER BY delta_token) = 1
    ),
    cancelled AS (
        SELECT DISTINCT cancel_seq AS seq FROM once
        WHERE rocancel AND cancel_seq IS NOT NULL
    ),
    live AS (
        SELECT once.* FROM once ANTI JOIN cancelled ON once.event_seq = cancelled.seq
        WHERE NOT once.rocancel AND once.op IS NOT NULL
    ),
    last AS (
        SELECT * FROM live
        QUALIFY row_number() OVER (PARTITION BY repo, path ORDER BY event_seq DESC) = 1
    ),
    base AS ({base})
    SELECT {cols} FROM base ANTI JOIN last USING (repo, path)
    UNION ALL
    SELECT {cols} FROM last WHERE op <> 'D'
    """


def check_final_state(spark, table_path: str, events_glob: str, workdir: str,
                      base_path: str | None = None) -> dict:
    """Compare the table's live rows with the oracle fold of the inputs.

    ``events_glob`` is a parquet glob over every event the table ingested
    (hive-partitioned ``delta_token=`` directories are read as a column).
    Returns ``{"ok", "expected_rows", "missing", "extra", "fingerprint"}``:
    ``missing``/``extra`` count rows only the oracle / only the table has.
    """
    from sap_spark.plans.doctor import table_fingerprint
    from sap_spark.plans.lake import LakeTable

    actual = os.path.join(workdir, "oracle_actual")
    LakeTable(spark, table_path).read().select(*COLUMNS).write.mode(
        "overwrite"
    ).parquet(actual)
    fp = table_fingerprint(spark, table_path)
    cols = ", ".join(COLUMNS)
    con = _connect(workdir)
    try:
        con.execute(
            f"CREATE TEMP TABLE expected AS {_expected_sql(events_glob, base_path)}"
        )
        con.execute(
            f"CREATE TEMP VIEW actual AS SELECT {cols} FROM "
            f"read_parquet('{actual}/*.parquet')"
        )
        missing, extra, expected_rows = con.execute(
            f"""SELECT
                (SELECT count(*) FROM (SELECT {cols} FROM expected
                                       EXCEPT ALL SELECT {cols} FROM actual)),
                (SELECT count(*) FROM (SELECT {cols} FROM actual
                                       EXCEPT ALL SELECT {cols} FROM expected)),
                (SELECT count(*) FROM expected)"""
        ).fetchone()
    finally:
        con.close()
    ok = missing == 0 and extra == 0 and fp["rows"] == expected_rows
    return {
        "ok": ok,
        "expected_rows": int(expected_rows),
        "missing": int(missing),
        "extra": int(extra),
        "fingerprint": fp["fingerprint"],
    }
