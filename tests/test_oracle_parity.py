"""Local replica of the driver's DuckDB-oracle correctness gate.

For every query in the catalog with an oracle: run the Spark query and the
DuckDB SQL on the same sf0.001 fixtures and compare row count, column
names, and values (order-insensitive, float-tolerant). Catching a
mismatch here is much cheaper than waiting for CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import tempfile
import time

import duckdb
import pytest

import __spark_entry__ as entrymod
from starryskyqueryengine_spark.sources.fixtures import TABLES
from tools.compare import duck_type_to_spark, normalize

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


QUERY_NAMES = sorted(entrymod.oracle_sql().keys())

# -- type-drift guard -------------------------------------------------------
# The driver's value hash is type-sensitive: values can match while the
# oracle returns e.g. HUGEINT (DuckDB windowed SUM(BIGINT)) or DECIMAL and
# the row still fails (round-1 pack_sequences). Stringified comparison
# above can't see that, so map DuckDB's DESCRIBE types onto Spark dtypes
# and require exact agreement, forbidding HUGEINT/DECIMAL outright.


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_oracle_types_match_spark(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    spark_types = dict(sdf.dtypes)
    desc = duck.execute("DESCRIBE " + entrymod.oracle_sql()[name]).fetchall()
    duck_types = {r[0]: duck_type_to_spark(r[1]) for r in desc}
    assert set(duck_types) == set(spark_types), (
        f"{name}: columns {sorted(duck_types)} vs {sorted(spark_types)}"
    )
    bad = {
        c: (duck_types[c], spark_types[c])
        for c in duck_types
        if duck_types[c] != spark_types[c]
    }
    assert not bad, f"{name}: oracle/Spark type drift: {bad}"


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name, tmp_path, monkeypatch):
    fn = entrymod.queries()[name]
    # a streaming or ACID query works inside one scratch directory under
    # the temp dir: it must remove it, and drop its sink view, before it
    # returns, so the result reads from neither
    scoped = fn.__module__.endswith(".catalog_stream")
    views = {t.name for t in spark.catalog.listTables()}
    with monkeypatch.context() as m:
        if scoped:
            m.setattr(tempfile, "tempdir", str(tmp_path))
        sdf = fn(spark, SF_DIR)
        spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns
    if scoped:
        # state-store maintenance runs in the background: look twice
        for _ in range(2):
            assert list(tmp_path.iterdir()) == [], f"{name}: left {list(tmp_path.iterdir())}"
            new_views = {t.name for t in spark.catalog.listTables()} - views
            assert not new_views, f"{name}: left views {new_views}"
            time.sleep(1)

    res = duck.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    s_vals, s_cols = normalize(spark_rows, spark_cols)
    d_vals, d_cols = normalize(duck_rows, duck_cols)

    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_vals) == len(d_vals), (
        f"{name}: row count {len(s_vals)} vs {len(d_vals)}"
    )
    from tools.compare import tolerant_rows_equal

    if not tolerant_rows_equal(s_vals, d_vals):
        mismatches = [(a, b) for a, b in zip(s_vals, d_vals) if a != b]
        raise AssertionError(
            f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:3]}"
        )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"key", "uri", "cid", "indexedAt"}


def test_priority_window_integrity():
    """The external gate verifies registration order[:50] only. PRIORITY
    must therefore (a) hold exactly 50 distinct names, (b) reference only
    registered queries — `_ordered` silently DROPS unknown names, which
    would slide an unprioritized query into the verified window after a
    rename/typo — and (c) every windowed query must have an oracle (a
    rows-only query would waste a gate slot)."""
    from starryskyqueryengine_spark.catalog import PRIORITY

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert len(PRIORITY) == 50, f"PRIORITY has {len(PRIORITY)} entries"
    assert len(set(PRIORITY)) == len(PRIORITY), "duplicate PRIORITY entries"
    unknown = [n for n in PRIORITY if n not in qs]
    assert not unknown, f"PRIORITY names not registered: {unknown}"
    assert list(qs)[:50] == PRIORITY, "window does not match PRIORITY order"
    no_oracle = [n for n in PRIORITY if n not in osql]
    assert not no_oracle, f"windowed queries without oracle: {no_oracle}"
