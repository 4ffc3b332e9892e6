"""Key-scoped store reads: ``read(keys=...)`` lists and scans only the
named keys' partitions, with the schema given rather than inferred, and
returns exactly the rows a full read filtered to those keys returns."""

import datetime as dt
import os

from pyspark.sql import functions as F

from starryskyqueryengine_spark.config import ConditionsRegistry, FeedCondition
from starryskyqueryengine_spark.operators.topk import keyset_page
from starryskyqueryengine_spark.schemas import POST_SCHEMA
from starryskyqueryengine_spark.serving import FeedServer
from starryskyqueryengine_spark.store import PostStore
from starryskyqueryengine_spark.table_format import TxnLogFormat

BASE = dt.datetime(2026, 1, 1)


def _posts(spark, rows):
    """rows: (uri, key, seconds after BASE) -> a POST_SCHEMA frame."""
    return spark.createDataFrame(
        [
            (uri, key, f"c{s:04d}", None, None, BASE + dt.timedelta(seconds=s))
            for uri, key, s in rows
        ],
        POST_SCHEMA,
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _server(spark, store, keys):
    reg = ConditionsRegistry()
    for i, k in enumerate(keys):
        reg.upsert(FeedCondition(key=k, recordName=f"f{i}"))
    return FeedServer(spark, reg, store)


def _jobs_in(spark, group, fn):
    """(fn's result, the number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_numeric_looking_keys_stay_strings(spark, tmp_path):
    """Keys such as "007" must never go through partition type
    inference: read as the int 7, a retention rewrite would write a new
    ``key=7`` partition beside ``key=007`` and duplicate its rows."""
    path = str(tmp_path / "s")
    store = PostStore(spark, path)
    store.upsert(_posts(spark, [("u1", "007", 1), ("u2", "007", 2), ("u3", "007", 3)]))
    store.upsert(_posts(spark, [("u4", "10", 4)]))
    assert dict(store.read().dtypes)["key"] == "string"
    assert {r["key"] for r in store.read().collect()} == {"007", "10"}

    store.apply_retention({"007": 1})
    got = sorted((r["uri"], r["key"]) for r in store.read().collect())
    assert got == [("u3", "007"), ("u4", "10")]
    assert sorted(n for n in os.listdir(path) if n.startswith("key=")) == [
        "key=007",
        "key=10",
    ]


def test_feed_skeleton_runs_one_job_above_discovery_threshold(spark, tmp_path):
    """40 keys is above parallelPartitionDiscovery.threshold (32): a
    whole-store listing would run its own listing job, and schema
    inference another. A key-scoped read runs only the page's job.
    The rows are written through ``fmt.append``, not ``PostStore``, so
    no key has a head and every page takes the Spark fallback."""
    keys = [f"k{i:02d}" for i in range(40)]
    store = PostStore(spark, str(tmp_path / "s"))
    for b in range(2):  # two files per key
        store.fmt.append(
            _posts(spark, [(f"u{b}-{k}-{j}", k, b * 10 + j) for k in keys for j in range(3)])
        )
    server = _server(spark, store, keys)

    first, n_first = _jobs_in(
        spark, "keyed-first", lambda: server.get_feed_skeleton("f7", limit=4)
    )
    assert len(first.feed) == 4 and n_first == 1
    nxt, n_next = _jobs_in(
        spark,
        "keyed-cursor",
        lambda: server.get_feed_skeleton("f7", limit=4, cursor=first.cursor),
    )
    assert len(nxt.feed) == 2 and n_next == 1


def test_keyed_pages_equal_filtered_full_read(spark, tmp_path):
    """First pages, cursor pages, a key with no partition and a key
    with escaped and glob characters all match the filtered full read."""
    odd = "a:b/c{d}"  # escaped characters, and a glob character left literal
    store = PostStore(spark, str(tmp_path / "s"))
    store.upsert(
        _posts(
            spark,
            [(f"u{k}{j}", k, j * 3 + i) for i, k in enumerate(["k1", "k2", odd]) for j in range(7)],
        )
    )
    server = _server(spark, store, ["k1", "k2", odd, "absent"])
    full = store.read()
    for name, key in (("f0", "k1"), ("f2", odd), ("f3", "absent")):
        only = full.filter(F.col("key") == key)
        assert _rows(store.read(keys=[key])) == _rows(only)
        cursor, pages = None, 0
        while True:
            page = server.get_feed_skeleton(name, limit=3, cursor=cursor)
            want = [
                {"post": r["uri"]}
                for r in keyset_page(only, key, 3, cursor).collect()
            ]
            assert page.feed == want
            df_page = server.get_feed_skeleton_df(name, 3, cursor)
            assert [r["post"] for r in df_page.orderBy("rank").collect()] == [
                p["post"] for p in want
            ]
            if not page.feed:
                assert page.cursor is None
                break
            cursor, pages = page.cursor, pages + 1
        assert pages == (0 if key == "absent" else 3)
    assert _rows(store.read(keys=["k2", "absent", "k2"])) == _rows(
        full.filter(F.col("key") == "k2")
    )
    assert store.read(keys=["absent"]).schema == store.read().schema


def test_txnlog_keyed_read_equals_filtered_full_read(spark, tmp_path):
    odd = "a:b/c{d}"  # escaped characters, and a glob character left literal
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_posts(spark, [("u1", "k1", 1), ("u2", "k2", 2), ("u3", odd, 3)]))
    fmt.append(_posts(spark, [("u4", "k1", 4), ("u5", odd, 5)]))
    fmt.delete_partition("k2")
    for version in (None, 0, 1, 2):
        full = fmt.read(spark, version=version)
        for keys in (["k1"], [odd], ["k2"], ["k1", odd], ["absent"]):
            got = fmt.read(spark, version=version, keys=keys)
            assert got.dtypes == full.dtypes
            assert _rows(got) == _rows(full.filter(F.col("key").isin(keys)))
