"""Deterministic scale-up of the sf0.1 fixtures for SCALING evidence only.

The driver's test data stops at sf0.1, where the catalog is overhead-bound
(8-core total ~= 32-core total; PERF r14 scaling block) and wall-clock can
no longer discriminate 100 TB plan shapes.  This tool builds an
sf1-SHAPED dataset by replicating each sf0.1 table ``--factor`` times with
consistent key shifts — pure arithmetic on existing rows, zero RNG, so the
output is reproducible bit-for-bit.  Referential integrity is preserved
(every foreign key shifts by the same per-table step as its target's
primary key), and each replica is made disjoint in every
SIMILARITY-BEARING dimension, not just keys:

- ``documents.text`` gets a per-replica token woven after every space
  (word count preserved, every shingle distinct across replicas) —
  otherwise each doc near-dups its factor-1 copies and the dedup pair
  space grows ~factor² instead of ~factor, a different algorithm regime;
- ``events.ts`` shifts by a disjoint per-replica time range — otherwise
  interval-join fan-out grows ~factor² at fixed time density.

Scaled tables are written as one file per replica (directory dataset):
a 100 TB table is thousands of files, and a single ~60 MB file would cap
scan parallelism at one split under the 128 MB default.

This data is NOT used by any correctness gate or by bench.py: it exists so
the 8-vs-32-core spot-bench (``python bench.py q1 q2 ... --sf`` pointed
here) can show whether the shuffle-bound queries actually parallelize
once real work dominates the per-query floor.

Usage: python tools/make_scale_fixture.py /root/sf1 [--factor 10]
"""

from __future__ import annotations

import argparse
import math
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

# table -> columns that carry that table's OWN key space or a foreign key
# into another table's.  The shift step for a key space is shared by every
# column referencing it.
KEY_SPACES = {
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
}
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
# dimension tables copied once (their key spaces are not scaled; FK columns
# into them — nationkey/regionkey — are left untouched everywhere)
STATIC = {"region", "nation"}


def _step(max_val: int) -> int:
    """Smallest power of ten strictly above max_val — keeps shifted ids
    readable and provably non-overlapping."""
    return 10 ** (int(math.log10(max(max_val, 1))) + 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.out_dir, exist_ok=True)

    tabs = {t: pq.read_table(f"{SRC}/{t}.parquet") for t in TABLES}
    steps: dict[str, int] = {}
    for space, cols in KEY_SPACES.items():
        mx = 0
        for t, c in cols:
            mx = max(mx, pc.max(tabs[t][c]).as_py() or 0)
        steps[space] = _step(mx)
    shift_cols = {
        (t, c): steps[space] for space, cols in KEY_SPACES.items() for t, c in cols
    }

    ev_span = None
    if "events" in tabs:
        ts = tabs["events"]["ts"]
        ev_span = (
            pc.max(ts).as_py() - pc.min(ts).as_py()
        ) + __import__("datetime").timedelta(days=1)

    for t in TABLES:
        src = tabs[t]
        out = f"{args.out_dir}/{t}.parquet"
        if t in STATIC:
            pq.write_table(src, out)
            print(f"{t}: {src.num_rows} rows (static copy)")
            continue
        os.makedirs(out, exist_ok=True)
        n_rows = 0
        for i in range(args.factor):
            arrays = []
            for name in src.column_names:
                col = src[name]
                step = shift_cols.get((t, name))
                if step is not None and i > 0:
                    col = pc.add(col, pa.scalar(i * step, type=col.type))
                elif t == "documents" and name == "text" and i > 0:
                    # weave a replica token after every space: word count
                    # and lengths-shape preserved, every word (hence every
                    # shingle/chunk/token) distinct across replicas
                    col = pc.replace_substring(
                        col, pattern=" ", replacement=f" r{i}x"
                    )
                elif t == "events" and name == "ts" and i > 0:
                    col = pc.add(col, pa.scalar(i * ev_span))
                arrays.append(col)
            rep = pa.table(dict(zip(src.column_names, arrays)), schema=src.schema)
            pq.write_table(
                rep, f"{out}/part-{i:02d}.parquet", row_group_size=131072
            )
            n_rows += rep.num_rows
        print(f"{t}: {src.num_rows} -> {n_rows} rows ({args.factor} files)")


if __name__ == "__main__":
    main()
