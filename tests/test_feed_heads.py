"""Feed heads: a page served from a key's head equals the page the keyed
Spark plan returns, a head that does not match the key's files is never
served, and a page within the head runs no Spark job."""

import datetime as dt
import os
import random

from pyspark.sql import functions as F
from pyspark.sql import types as T

from starryskyqueryengine_spark import feed_heads
from starryskyqueryengine_spark.config import ConditionsRegistry, FeedCondition
from starryskyqueryengine_spark.operators.topk import keyset_page, keyset_predicate
from starryskyqueryengine_spark.schemas import POST_SCHEMA
from starryskyqueryengine_spark.serving import MAX_PAGE_LIMIT, FeedServer
from starryskyqueryengine_spark.store import PostStore
from starryskyqueryengine_spark.table_format import TxnLogFormat

from tests.test_keyed_reads import _jobs_in

BASE = dt.datetime(2026, 1, 1)
ODD = "a:b/c{d}"  # escaped characters, and a glob character left literal
KEYS = ["k1", ODD, "k3"]
# nullable, as ingested posts are: upsert drops rows with a NULL indexedAt or cid
SCHEMA = T.StructType([T.StructField(f.name, f.dataType, True) for f in POST_SCHEMA.fields])


def _posts(spark, rows):
    """rows: (uri, key, cid, seconds after BASE or None)."""
    return spark.createDataFrame(
        [
            (uri, key, cid, None, None, None if s is None else BASE + dt.timedelta(seconds=s))
            for uri, key, cid, s in rows
        ],
        SCHEMA,
    )


def _server(spark, store, keys=KEYS):
    reg = ConditionsRegistry()
    for i, k in enumerate(keys):
        reg.upsert(FeedCondition(key=k, recordName=f"f{i}"))
    return FeedServer(spark, reg, store)


def _spark_page(store, key, limit, cursor):
    """The keyed Spark plan's page as (feed, cursor)."""
    rows = (
        keyset_page(store.read(keys=[key]), key, limit, cursor)
        .select("uri", "cid", F.unix_micros("indexedAt").alias("us"))
        .collect()
    )
    return _page(rows)


def _page(rows):
    nxt = f"{rows[-1]['us']}::{rows[-1]['cid']}" if rows else None
    return [{"post": r["uri"]} for r in rows], nxt


def _spark_pages(store, key, limit, cursors):
    """The Spark page for each cursor, from one job: Spark orders the
    key's rows as ``keyset_page`` does and evaluates every cursor's
    ``keyset_predicate`` on each; a page is the first ``limit`` rows in
    that order that pass (a NULL predicate does not)."""
    preds = [F.lit(True) if c is None else keyset_predicate(c) for c in cursors]
    rows = (
        store.read(keys=[key])
        .coalesce(1)  # one task sorts it all: no range-partitioning job
        .sortWithinPartitions(F.col("indexedAt").desc(), F.col("cid").desc())
        .select("uri", "cid", F.unix_micros("indexedAt").alias("us"), F.array(*preds).alias("_p"))
        .collect()
    )
    return [_page([r for r in rows if r["_p"][i] is True][:limit]) for i in range(len(cursors))]


def _walk(server, store, key, name, limit):
    """Walk every page of ``key`` and compare each with the Spark page."""
    cursors, got = [None], []
    while True:
        page = server.get_feed_skeleton(name, limit=limit, cursor=cursors[-1])
        got.append((page.feed, page.cursor))
        if not page.feed:
            break
        cursors.append(page.cursor)
    assert got == _spark_pages(store, key, limit, cursors), (key, limit)


def _check(server, store, limits, keys=KEYS):
    for k in keys:
        for limit in limits:
            _walk(server, store, k, f"f{KEYS.index(k)}", limit)


class _Gen:
    """Seeded upsert batches with duplicates, late rows and NULL
    ``cid``/``indexedAt`` (which upsert drops), but no two distinct URIs
    of one key tied on (indexedAt, cid): Spark's order among tied rows
    is arbitrary, so a tie would make the reference pages themselves
    unstable."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.n = 0
        self.sent = []

    def batch(self, size):
        rng, rows = self.rng, []
        for _ in range(size):
            if self.sent and rng.random() < 0.15:  # re-delivery of a sent row
                rows.append(rng.choice(self.sent))
                continue
            self.n += 1
            key = rng.choice(KEYS)
            cid = f"c{rng.randrange(10**6):06d}-{self.n}"
            s = rng.randrange(400)  # repeats: ties on indexedAt alone
            if rng.random() < 0.1:
                cid, s = None, 10_000 + self.n  # a NULL cid at its own time
            elif rng.random() < 0.05:
                s = None
            elif rng.random() < 0.2:
                s -= 1_000  # a late row, older than everything stored
            row = (f"u{self.n}", key, cid, s)
            rows.append(row)
            if rng.random() < 0.1:  # a duplicate within the batch
                rows.append((row[0], key, f"d{self.n}", s))
        self.sent.extend(rows)
        return rows


def test_head_size_is_three_pages():
    assert feed_heads.H == 3 * MAX_PAGE_LIMIT


def test_head_pages_equal_spark_pages(spark, tmp_path, monkeypatch):
    """Random commit sequences; after every step the page walks of the
    keys it touched equal the Spark walks. H is shrunk so that the keys
    outgrow their heads and the partial-head paths (merge floors, cuts,
    pages past the head) are exercised with few rows."""
    monkeypatch.setattr(feed_heads, "H", 12)
    rng = random.Random(3)
    gen = _Gen(3)
    store = PostStore(spark, str(tmp_path / "s"))
    server = _server(spark, store)
    store.upsert(_posts(spark, gen.batch(40)))
    _check(server, store, [5])
    ops = ["upsert", "retention", "refresh", "delete_rows", "compact", "delete_key"]
    for op in ops[:1] + rng.sample(ops, len(ops)) + ops[:1]:
        k, other = rng.sample(KEYS, 2)
        touched = [k]
        if op == "upsert":
            got = store.upsert(_posts(spark, gen.batch(rng.randrange(5, 20))))
            touched = KEYS
            # through PostStore alone every key written keeps a valid head
            assert all(store.head(key)[0] == "head" for key in got), op
        elif op == "retention":  # caps below and above H
            store.apply_retention({k: rng.choice([3, 10]), other: rng.choice([14, 40])})
            touched = [k, other]
        elif op == "refresh":
            store.apply_refresh(k, rng.choice([1, 3]))
            store.apply_refresh(other, -1)
            touched = [k, other]
        elif op == "delete_rows":
            uris = [r["uri"] for r in store.read(keys=[k]).collect()]
            doomed = rng.sample(uris, min(len(uris), 4))
            store.delete_rows(_posts(spark, [(u, k, None, None) for u in doomed]))
        elif op == "compact":
            store.compact(max_files_per_key=1)
            touched = KEYS
        else:
            store.delete_key(k)
        _check(server, store, [5], touched)
    _check(server, store, [1, 50, 100])
    assert server.served["head"] > 0 and server.served["past_head"] > 0


def test_partial_head_merges_only_above_its_floor(spark, tmp_path, monkeypatch):
    """After a CDC delete the head holds fewer than H rows of a longer
    key; an upsert may then add to it only rows that sort above its last
    row, or a late row would jump ahead of stored rows the head lacks."""
    monkeypatch.setattr(feed_heads, "H", 12)
    store = PostStore(spark, str(tmp_path / "s"))
    store.upsert(_posts(spark, [(f"u{s}", "k1", f"c{s}", s) for s in range(100, 120)]))
    store.delete_rows(_posts(spark, [(f"u{s}", "k1", None, None) for s in (117, 118, 119)]))
    store.upsert(_posts(spark, [("late", "k1", "c50", 50), ("top", "k1", "c200", 200)]))
    state, head = store.head("k1")
    assert state == "head" and [r[2] for r in head.rows] == ["top"] + [
        f"u{s}" for s in range(116, 107, -1)
    ]
    _check(_server(spark, store), store, [1], ["k1"])


def test_foreign_append_is_not_hidden(spark, tmp_path):
    store = PostStore(spark, str(tmp_path / "s"))
    store.upsert(_posts(spark, [(f"u{i}", "k1", f"c{i:03d}", i) for i in range(30)]))
    server = _server(spark, store)
    assert len(server.get_feed_skeleton("f0", limit=5).feed) == 5
    assert server.served["head"] == 1
    store.fmt.append(_posts(spark, [("new", "k1", "c999", 999)]))
    page = server.get_feed_skeleton("f0", limit=5)
    assert page.feed[0] == {"post": "new"}
    assert server.served["stale"] == 1
    assert (page.feed, page.cursor) == _spark_page(store, "k1", 5, None)


def test_broken_heads_fall_back(spark, tmp_path):
    store = PostStore(spark, str(tmp_path / "s"))
    store.upsert(_posts(spark, [(f"u{i}", ODD, f"c{i:03d}", i) for i in range(30)]))
    server = _server(spark, store, [ODD])
    want = _spark_page(store, ODD, 7, None)
    d = feed_heads.key_dir(store.path, ODD)
    (name,) = os.listdir(d)
    path = os.path.join(d, name)
    with open(path, "rb") as f:
        good = f.read()

    def served():
        page = server.get_feed_skeleton("f0", limit=7)
        assert (page.feed, page.cursor) == want
        return {k: v for k, v in server.served.items() if v}

    assert served() == {"head": 1}
    with open(path, "wb") as f:  # torn: the footer is gone
        f.write(good[: len(good) // 2])
    assert served() == {"head": 1, "no_head": 1}
    os.rename(path, os.path.join(d, "0" * 32 + ".parquet"))  # wrongly named
    assert served() == {"head": 1, "no_head": 1, "stale": 1}
    os.remove(os.path.join(d, "0" * 32 + ".parquet"))
    assert served() == {"head": 1, "no_head": 2, "stale": 1}
    # the next commit rebuilds the missing head with one keyed job
    store.upsert(_posts(spark, [("late", ODD, "c500", -5)]))
    assert store.head(ODD)[0] == "head"


def test_pages_within_the_head_run_no_job(spark, tmp_path):
    store = PostStore(spark, str(tmp_path / "s"))
    store.upsert(
        _posts(spark, [(f"u{i}", k, f"c{i:04d}", i) for k in ("k1", "k3") for i in range(400)])
    )
    server = _server(spark, store)
    first, n_first = _jobs_in(spark, "heads-first", lambda: server.get_feed_skeleton("f0"))
    assert len(first.feed) == 50 and n_first == 0
    cursor = first.cursor
    for depth in range(1, 6):
        page, n = _jobs_in(
            spark, f"heads-d{depth}", lambda: server.get_feed_skeleton("f0", cursor=cursor)
        )
        assert len(page.feed) == 50 and n == 0, depth
        cursor = page.cursor
    past, n_past = _jobs_in(
        spark, "heads-past", lambda: server.get_feed_skeleton("f0", cursor=cursor)
    )
    assert len(past.feed) == 50 and n_past == 1
    assert (past.feed, past.cursor) == _spark_page(store, "k1", 50, cursor)
    assert server.served["head"] == 6 and server.served["past_head"] == 1


def test_retention_cut_inside_a_tie_writes_no_head(spark, tmp_path):
    """Rows 2 and 3 tie on (indexedAt, cid): which one retention keeps is
    Spark's choice, so no head may claim to know."""
    store = PostStore(spark, str(tmp_path / "s"))
    store.upsert(
        _posts(spark, [("a", "k1", "c9", 9), ("b", "k1", "c5", 5), ("c", "k1", "c5", 5), ("d", "k1", "c1", 1)])
    )
    store.apply_retention({"k1": 2})
    assert store.head("k1") == ("no_head", None)
    page = _server(spark, store).get_feed_skeleton("f0", limit=5)
    assert page.feed == [{"post": r["uri"]} for r in keyset_page(store.read(), "k1", 5).collect()]


def test_txnlog_heads_and_restore(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(feed_heads, "H", 12)
    gen = _Gen(11)
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(spark, path)
    store = PostStore(spark, path, fmt=fmt)
    server = _server(spark, store)
    store.upsert(_posts(spark, gen.batch(30)), txn=("app", 1))
    v = fmt.history()[-1]["version"]
    # a replayed txn skips the append: the listing and the head stay
    before = {k: store.head(k) for k in KEYS}
    store.upsert(_posts(spark, gen.batch(10)), txn=("app", 1))
    assert {k: store.head(k) for k in KEYS} == before
    store.upsert(_posts(spark, gen.batch(15)), txn=("app", 2))
    store.apply_retention({"k1": 10})
    store.delete_rows(_posts(spark, [("u3", "k3", None, None), ("u4", ODD, None, None)]))
    assert all(store.head(k)[0] == "head" for k in KEYS)
    _check(server, store, [5])
    fmt.restore(v)
    _check(server, store, [50])
    assert server.served["head"] > 0
