"""The driver contract's registry: every oracle names a query, and the
queries that run without an oracle are an explicit, short list.

Needs no Spark session — it only imports ``__spark_entry__`` and reads
the two dicts. Adding a rows-only query means updating ROWS_ONLY here on
purpose.
"""

from __future__ import annotations

import __spark_entry__ as contract

# approximate top-k ANN: recall, not exact rows, is the contract
ROWS_ONLY = {"emb_ann_methods"}


def test_every_oracle_names_a_query():
    assert set(contract.oracle_sql()) <= set(contract.queries())


def test_every_query_is_callable():
    bad = [n for n, fn in contract.queries().items() if not callable(fn)]
    assert bad == []


def test_rows_only_set_is_pinned():
    rows_only = set(contract.queries()) - set(contract.oracle_sql())
    assert rows_only == ROWS_ONLY
