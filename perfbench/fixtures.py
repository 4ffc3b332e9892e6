"""Seeded catalog fixture tables for pipeline_ops, written with pyarrow.

The tables have the schemas of the repository's fixture files (see
FIXTURES.md) at the sf0.01 shape: 15,000 orders, about 60,000 line
items and 500 documents. Only the tables the pipeline_ops queries read
are written.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# document vocabulary: the multi-feed query's 32 feed words plus fillers
DOC_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window customer query big order data column join small "
    "group stream filter vector the grid cloud index a me of to"
).split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write_tables(out_dir, seed, n_orders=15_000, n_parts=2_000, n_docs=500):
    rng = random.Random(f"fixtures-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    day0 = dt.datetime(1992, 1, 1)

    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus",
                              "o_totalprice", "o_orderdate", "o_orderpriority")}
    items = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                             "l_returnflag", "l_linestatus", "l_shipdate")}
    for ok in range(n_orders):
        date = day0 + dt.timedelta(days=rng.randrange(2500))
        orders["o_orderkey"].append(ok)
        orders["o_custkey"].append(rng.randrange(1500))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(round(rng.uniform(1000, 500000), 2))
        orders["o_orderdate"].append(date)
        orders["o_orderpriority"].append(rng.choice(PRIORITIES))
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            items["l_orderkey"].append(ok)
            items["l_partkey"].append(rng.randrange(n_parts))
            items["l_suppkey"].append(rng.randrange(100))
            items["l_linenumber"].append(ln)
            items["l_quantity"].append(qty)
            items["l_extendedprice"].append(round(qty * rng.uniform(900, 2000), 2))
            items["l_discount"].append(rng.randint(0, 10) / 100)
            items["l_tax"].append(rng.randint(0, 8) / 100)
            items["l_returnflag"].append(rng.choice("ANR"))
            items["l_linestatus"].append(rng.choice("FO"))
            items["l_shipdate"].append(date + dt.timedelta(days=rng.randint(1, 120)))

    docs = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    for d in range(n_docs):
        text = " ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 90)))
        docs["doc_id"].append(d)
        docs["text"].append(text)
        docs["lang"].append(rng.choice(["en", "en", "en", "de", "es", "fr", "zh"]))
        docs["source"].append(f"src{rng.randrange(20)}")
        docs["n_chars"].append(len(text))

    ts = pa.timestamp("us")
    schemas = {
        "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                             ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                             ("o_orderdate", ts), ("o_orderpriority", pa.string())]),
        "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                               ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                               ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                               ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                               ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                               ("l_shipdate", ts)]),
        "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                                ("lang", pa.string()), ("source", pa.string()),
                                ("n_chars", pa.int64())]),
    }
    for name, cols in (("orders", orders), ("lineitem", items), ("documents", docs)):
        pq.write_table(pa.table(cols, schema=schemas[name]),
                       os.path.join(out_dir, f"{name}.parquet"))
    return list(schemas)
