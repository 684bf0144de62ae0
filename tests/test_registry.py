"""Registry integrity checks (round-10 verdict order #4).

Python dict literals silently collapse duplicate keys (later wins) —
round 9 shipped `grouping_sets_sql` twice and the registry count
silently read 303 where the source had 304 entries. These tests parse
the SOURCE of ``__spark_entry__.queries()`` with ``ast`` so a future
duplicate of two DIFFERENT functions cannot silently drop a query.
The window-query test runs two registry queries against their DuckDB
oracles with the parity gate's own comparison.
"""

from __future__ import annotations

import ast
import collections
import importlib
import pathlib
import sys

import pytest

ENTRY = pathlib.Path(__file__).resolve().parent.parent / "__spark_entry__.py"


def _queries_dict_keys() -> list[str]:
    tree = ast.parse(ENTRY.read_text())
    fn = next(
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "queries"
    )
    dicts = [n for n in ast.walk(fn) if isinstance(n, ast.Dict)]
    assert dicts, "queries() must contain a dict literal catalog"
    catalog = max(dicts, key=lambda d: len(d.keys))
    keys = []
    for k in catalog.keys:
        assert isinstance(k, ast.Constant) and isinstance(k.value, str), (
            "catalog keys must be string literals"
        )
        keys.append(k.value)
    return keys


def test_no_duplicate_literal_keys():
    keys = _queries_dict_keys()
    dups = [k for k, c in collections.Counter(keys).items() if c > 1]
    assert not dups, f"duplicate keys in queries() dict literal: {dups}"


def test_literal_count_matches_registry():
    import __spark_entry__ as e

    keys = _queries_dict_keys()
    assert len(keys) == len(e.queries()), (
        "source dict literal and effective registry disagree — "
        "a duplicate key is collapsing entries"
    )


def test_gate_window_is_50_unique_registered():
    import __spark_entry__ as e

    q = e.queries()
    win = e._GATE_WINDOW
    assert len(win) == 50
    assert len(set(win)) == 50
    assert list(q)[:50] == win, "gate window must be the first 50 entries"


def test_oracle_keys_subset_of_registry():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    orphans = sorted(set(o) - set(q))
    assert not orphans, f"oracle_sql() keys with no query: {orphans}"


def _parity_compare():
    """tools/check_parity.compare, imported the way perfbench does it:
    the script's module code edits ``sys.path``, so that edit is undone."""
    saved = list(sys.path)
    try:
        return importlib.import_module("tools.check_parity").compare
    finally:
        sys.path[:] = saved


@pytest.mark.parametrize("name", ["sliding_hourly", "session_window_native"])
def test_window_query_matches_oracle(spark, sf_dir, name):
    """The F.window and F.session_window queries match their DuckDB
    oracles at sf0.001: the slide and the gap both reach the rows."""
    import duckdb

    import __spark_entry__ as e
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    got = e.queries()[name](spark, sf_dir).toPandas()
    ok, msg = _parity_compare()(got, con.sql(e.oracle_sql()[name]).df())
    assert ok, f"{name}: {msg}"
