"""Full-catalog correctness gate at the driver's scale factor.

The external driver verifies only the FIRST 50 registered queries
(CORRECTNESS_r{N}.json); everything past the priority window is covered
by tests/test_oracle_parity.py at sf0.001.  This tool runs the SAME
compare — row count, column names, order-insensitive values, plus the
HUGEINT/DECIMAL type-drift guard — over EVERY oracle-bearing query at
sf0.01 (the driver's correctness scale) and writes the machine-readable
result to LOCAL_CORRECTNESS.json at the repo root.

Run from the repo root:
  python tools/full_gate.py [sf_dir]
      every query; writes LOCAL_CORRECTNESS.json
  python tools/full_gate.py --sf DIR q1 q2 ...
      the named queries only, one JSON line each; writes nothing
Either way the exit status is 1 when any query fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from tools.compare import (  # noqa: E402
    normalize,
    tolerant_rows_equal,
    type_drift,
)

import __spark_entry__ as entrymod  # noqa: E402
from starryskyqueryengine_spark.session import get_spark  # noqa: E402
from starryskyqueryengine_spark.sources.fixtures import TABLES  # noqa: E402

# Tolerance-band value checks for inherently estimate-valued queries:
# engine sketches differ bit-for-bit, so no hash oracle can exist — but
# the ESTIMATE still has a published error bound, and
# |estimate - exact| <= rel_tol * exact is a real value assertion where
# "rows-only" was none.  rel_tol is 3x the configured relative standard
# deviation (rsd=0.02 in the query), the standard 3-sigma band for
# HLL++'s near-Gaussian error (Heule et al. 2013).
TOLERANCE_CHECKS: dict[str, dict] = {
    "sketch_distinct_users": {
        "exact_sql": (
            "SELECT event_type, COUNT(DISTINCT user_id) AS exact_users "
            "FROM events GROUP BY event_type"
        ),
        "key_cols": ["event_type"],
        "est_col": "approx_users",
        "exact_col": "exact_users",
        "rel_tol": 0.06,
    },
}


def tolerance_check(spark_rows, spark_cols, exact_rows, exact_cols, spec):
    """Per-key |estimate - exact| <= rel_tol * exact.  Returns (ok, err)."""
    kc, ec, tol = spec["key_cols"], spec["est_col"], spec["rel_tol"]
    s_key = [spark_cols.index(c) for c in kc]
    s_est = spark_cols.index(ec)
    # the exact value is located by NAME like every other column, so a
    # spec whose exact_sql orders its projection differently still works
    x_val = exact_cols.index(spec["exact_col"])
    exact = {tuple(r[exact_cols.index(c)] for c in kc): r[x_val] for r in exact_rows}
    got = {tuple(r[i] for i in s_key): r[s_est] for r in spark_rows}
    if set(exact) != set(got):
        return False, f"key sets differ: {sorted(set(exact) ^ set(got))[:5]}"
    for k, true_n in exact.items():
        if abs(got[k] - true_n) > tol * true_n:
            return False, (
                f"estimate {got[k]} for key {k} outside "
                f"{tol:.0%} of exact {true_n}"
            )
    return True, None


DEFAULT_SF = "/root/testdata/sf0.01"
NO_ORACLE = "no-oracle (rows-only)"


def open_oracle(sf_dir: str):
    """A DuckDB connection with one view per fixture table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check(spark, con, sf_dir: str, name: str) -> dict:
    """Run one catalog query and compare it with its oracle: the DuckDB
    value compare plus the type-drift guard, or its TOLERANCE_CHECKS band
    for an estimate-valued query.  ``values_match`` is the verdict; an
    exception is reported in ``err``, not raised."""
    rec: dict = {
        "rows_match": None,
        "schema_match": None,
        "values_match": None,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
    }
    oracles = entrymod.oracle_sql()
    try:
        sdf = entrymod.queries()[name](spark, sf_dir)
        spark_rows = [tuple(r) for r in sdf.collect()]
        rec["spark_rows"] = len(spark_rows)
        if name not in oracles:
            spec = TOLERANCE_CHECKS.get(name)
            if spec is None:
                rec["err"] = NO_ORACLE
                return rec
            res = con.execute(spec["exact_sql"])
            exact_cols = [d[0] for d in res.description]
            ok, terr = tolerance_check(
                spark_rows, sdf.columns, res.fetchall(), exact_cols, spec
            )
            rec["values_match"] = ok
            rec["rows_match"] = ok
            rec["schema_match"] = True
            rec["err"] = None if ok else f"tolerance-band: {terr}"[:400]
            rec["check"] = f"tolerance-band (rel_tol={spec['rel_tol']})"
            return rec
        res = con.execute(oracles[name])
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
        rec["oracle_rows"] = len(duck_rows)
        # the driver's value hash is TYPE-sensitive, so a HUGEINT/DECIMAL
        # oracle column that stringifies equal here would still fail there
        drift = type_drift(
            con.execute("DESCRIBE " + oracles[name]).fetchall(),
            sdf.dtypes,
        )
        rec["types_match"] = not drift
        if drift:
            rec["err"] = f"type drift: {drift}"[:400]
        s_vals, s_cols = normalize(spark_rows, sdf.columns)
        d_vals, d_cols = normalize(duck_rows, duck_cols)
        rec["rows_match"] = len(s_vals) == len(d_vals)
        rec["schema_match"] = s_cols == d_cols
        rec["values_match"] = (
            rec["rows_match"]
            and rec["schema_match"]
            and rec["types_match"]
            and tolerant_rows_equal(s_vals, d_vals)
        )
    except Exception as ex:  # noqa: BLE001 - report, don't abort the sweep
        rec["err"] = f"{type(ex).__name__}: {ex}"[:400]
    finally:
        spark.catalog.clearCache()
    return rec


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("args", nargs="*", metavar="sf_dir | query",
                    help="the fixture directory, or with --sf the queries")
    ap.add_argument("--sf", default=None,
                    help="fixture directory of a subset run")
    a = ap.parse_args()
    subset = a.sf is not None
    if not subset and len(a.args) > 1:
        ap.error("name the fixture with --sf to check a subset of queries")
    sf_dir = a.sf if subset else (a.args[0] if a.args else DEFAULT_SF)
    if not os.path.isdir(sf_dir):
        ap.error(f"no fixture directory {sf_dir}")
    names = a.args if subset else list(entrymod.queries())

    spark = get_spark("full-gate", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = open_oracle(sf_dir)
    results: dict[str, dict] = {}
    t0 = time.time()
    for name in names:
        results[name] = check(spark, con, sf_dir, name)
        if subset:
            print(json.dumps({"query": name, **results[name]}), flush=True)
    n_fail = sum(
        1 for r in results.values()
        if not r["values_match"] and r["err"] != NO_ORACLE
    )
    if not subset:
        n_ok = sum(1 for r in results.values() if r["values_match"])
        summary = {
            "sf_dir": sf_dir,
            "n_queries": len(results),
            "n_values_match": n_ok,
            "n_rows_only": len(results) - n_ok - n_fail,
            "n_fail": n_fail,
            "elapsed_sec": round(time.time() - t0, 1),
        }
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "LOCAL_CORRECTNESS.json")
        with open(path, "w") as f:
            json.dump({"summary": summary, "queries": results}, f, indent=1)
        print(json.dumps(summary))
    spark.stop()
    if n_fail:
        # a gate must gate: shell chains and CI stop on failures
        raise SystemExit(1)


if __name__ == "__main__":
    main()
