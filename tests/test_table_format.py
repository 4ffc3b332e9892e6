"""TableFormat seam: PostStore's logical mutations must route every
physical write through the injected adapter, and an alternate adapter
must produce byte-identical logical state to the default."""

import pytest
from pyspark.sql import functions as F

from starryskyqueryengine_spark.store import PostStore
from starryskyqueryengine_spark.table_format import (
    ParquetPartitionedFormat,
    TableFormat,
)

from tests.conftest import make_posts


class RecordingFormat(TableFormat):
    """Delegates to the Parquet impl but records the physical protocol —
    a stand-in for a Delta/Iceberg adapter proving the seam is the only
    write path."""

    def __init__(self, spark, path):
        self.inner = ParquetPartitionedFormat(spark, path)
        self.calls: list[str] = []

    def exists(self):
        return self.inner.exists()

    def read(self, spark, keys=None):
        return self.inner.read(spark, keys=keys)

    def append(self, df):
        self.calls.append("append")
        self.inner.append(df)

    def overwrite_partitions(self, df, expected_keys=None):
        self.calls.append(f"overwrite:{sorted(expected_keys or [])}")
        self.inner.overwrite_partitions(df, expected_keys=expected_keys)

    def delete_partition(self, key):
        self.calls.append(f"delete:{key}")
        self.inner.delete_partition(key)

    def file_counts(self):
        return self.inner.file_counts()


def _batch(spark, n0, n, key="k1"):
    import datetime

    rows = [
        {
            "uri": f"at://u/p/{i}",
            "cid": f"c{i:03d}",
            "text": "x",
            "createdAt": datetime.datetime(2026, 1, 1, 0, 0, i % 60),
        }
        for i in range(n0, n0 + n)
    ]
    df = make_posts(spark, rows)
    from pyspark.sql import functions as F

    return df.select(
        "uri",
        F.lit(key).alias("key"),
        "cid",
        "replyParent",
        "replyRoot",
        F.col("createdAt").alias("indexedAt"),
    )


def test_poststore_routes_all_writes_through_format(spark, tmp_path):
    fmt = RecordingFormat(spark, str(tmp_path / "t"))
    store = PostStore(spark, str(tmp_path / "t"), fmt=fmt)

    ins = store.upsert(_batch(spark, 0, 6))
    assert ins == {"k1": 6}
    assert fmt.calls == ["append"]

    # idempotent re-upsert: all rows dedup away -> nothing inserted
    again = store.upsert(_batch(spark, 0, 6))
    assert sum(again.values()) == 0

    store.apply_retention({"k1": 4})
    assert any(c.startswith("overwrite") for c in fmt.calls)
    assert store.read_key("k1").count() == 4

    # refresh that empties the partition exercises expected_keys routing
    store.apply_refresh("k1", -1)
    assert "delete:k1" in fmt.calls
    assert store.read().count() == 0


def test_injected_format_state_matches_default(spark, tmp_path):
    """Same mutation sequence through the default and an injected
    adapter lands in identical logical state."""
    s_def = PostStore(spark, str(tmp_path / "a"))
    s_inj = PostStore(
        spark, str(tmp_path / "b"), fmt=RecordingFormat(spark, str(tmp_path / "b"))
    )
    for s in (s_def, s_inj):
        s.upsert(_batch(spark, 0, 8))
        s.upsert(_batch(spark, 4, 8))  # 4 dup, 4 new
        s.apply_retention({"k1": 10})
        s.apply_refresh("k1", 2)
    a = sorted(tuple(r) for r in s_def.read().collect())
    b = sorted(tuple(r) for r in s_inj.read().collect())
    assert a == b and len(a) == 8


def test_abstract_format_refuses_silently_partial_impls(spark):
    class Half(TableFormat):
        def exists(self):
            return False

    h = Half()
    with pytest.raises(NotImplementedError):
        h.append(None)
    with pytest.raises(NotImplementedError):
        h.overwrite_partitions(None)


# --------------------------------------------------------------------------
# TxnLogFormat: ACID commits, snapshot isolation, time travel, vacuum
# --------------------------------------------------------------------------

from starryskyqueryengine_spark.table_format import (  # noqa: E402
    ConcurrentWriteError,
    TxnLogFormat,
)


def test_txnlog_poststore_parity_with_default(spark, tmp_path):
    """The full PostStore mutation sequence lands in identical logical
    state on the transaction-log format and the default Parquet one."""
    s_def = PostStore(spark, str(tmp_path / "a"))
    s_txn = PostStore(
        spark, str(tmp_path / "b"), fmt=TxnLogFormat(spark, str(tmp_path / "b"))
    )
    for s in (s_def, s_txn):
        s.upsert(_batch(spark, 0, 8))
        s.upsert(_batch(spark, 4, 8))  # 4 dup, 4 new
        s.apply_retention({"k1": 10})
        s.apply_refresh("k1", 2)
    a = sorted(tuple(r) for r in s_def.read().collect())
    b = sorted(tuple(r) for r in s_txn.read().collect())
    assert a == b and len(a) == 8


def test_txnlog_emptied_partition_no_blind_spot(spark, tmp_path):
    """Overwriting a key with zero remaining rows removes its files in
    the SAME atomic commit — the Parquet impl's deletion blind spot is
    structurally gone."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 5))
    assert fmt.read(spark).count() == 5
    empty = _batch(spark, 0, 0)
    fmt.overwrite_partitions(empty, expected_keys=["k1"])
    assert fmt.read(spark).count() == 0
    # and the history shows one overwrite commit with removes, no adds
    assert fmt.history()[-1]["op"] == "overwrite"
    assert fmt.history()[-1]["n_add"] == 0
    assert fmt.history()[-1]["n_remove"] >= 1


def test_txnlog_snapshot_isolation_under_rewrite(spark, tmp_path):
    """A reader that resolved its snapshot before a compaction-style
    rewrite still reads the OLD files — the visible-rewrite window of
    the vanilla-Parquet impl cannot happen."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 6))
    before = fmt.read(spark)  # snapshot resolved now (file list pinned)
    fmt.overwrite_partitions(_batch(spark, 100, 2))  # rewrite k1 entirely
    assert before.count() == 6  # old snapshot, old files, still readable
    assert fmt.read(spark).count() == 2


def test_txnlog_time_travel_and_history(spark, tmp_path):
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 3))       # v0: 3 rows
    fmt.append(_batch(spark, 10, 2))      # v1: 5 rows
    fmt.overwrite_partitions(_batch(spark, 50, 1))  # v2: 1 row
    fmt.delete_partition("k1")            # v3: 0 rows
    assert [h["op"] for h in fmt.history()] == [
        "append", "append", "overwrite", "delete",
    ]
    assert fmt.read(spark, version=0).count() == 3
    assert fmt.read(spark, version=1).count() == 5
    assert fmt.read(spark, version=2).count() == 1
    assert fmt.read(spark, version=3).count() == 0
    assert fmt.read(spark).count() == 0


def test_txnlog_conflict_append_rebases_overwrite_raises(
    spark, tmp_path, monkeypatch
):
    """Lose the put-if-absent race ON PURPOSE: a concurrent writer's
    commit lands between this writer's log-tip read and its link
    attempt. Appends must rebase and land; partition-scoped ops must
    rebase only when the interloper touched disjoint keys."""
    import json
    import os

    import starryskyqueryengine_spark.table_format as tf_mod

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 3))  # v0

    real_link = os.link
    steal: dict = {}

    def racing_link(src, dst):
        # first link into the log loses the race to a rival commit
        if steal and os.sep + TxnLogFormat.LOG_DIR + os.sep in dst:
            key = steal.pop("key")
            v = fmt._versions()[-1] + 1
            with open(fmt._entry_path(v), "w") as f:
                json.dump(
                    {"version": v, "op": "append", "ts": 0, "remove": [],
                     "add": [{"path": f"key={key}/ghost-{v}.parquet",
                              "key": key}]},
                    f,
                )
        return real_link(src, dst)

    monkeypatch.setattr(tf_mod.os, "link", racing_link)

    # (a) append loses the race to a commit on the SAME key: rebases
    steal["key"] = "k1"
    fmt.append(_batch(spark, 10, 2))
    assert fmt.history()[-1]["op"] == "append"

    # (b) overwrite loses the race to a commit on the same key: refuses
    steal["key"] = "k1"
    with pytest.raises(ConcurrentWriteError, match="conflicts"):
        fmt.overwrite_partitions(_batch(spark, 50, 1))

    # (c) overwrite loses the race to a DISJOINT-key commit: rebases
    steal["key"] = "other-key"
    fmt.overwrite_partitions(_batch(spark, 60, 1))
    assert fmt.history()[-1]["op"] == "overwrite"


def test_txnlog_checkpoint_bounds_replay(spark, tmp_path):
    fmt = TxnLogFormat(spark, str(tmp_path / "t"), checkpoint_interval=4)
    for i in range(9):
        fmt.append(_batch(spark, i * 10, 1))
    cks = fmt._checkpoints()
    assert cks, "expected at least one checkpoint"
    # a fresh instance (fresh metadata cache) resolves the same snapshot
    fmt2 = TxnLogFormat(spark, str(tmp_path / "t"), checkpoint_interval=4)
    assert fmt2._snapshot() == fmt._snapshot()
    assert fmt2.read(spark).count() == 9
    # snapshot resolved via checkpoint == snapshot replayed from scratch
    full = {}
    for v in fmt._versions():
        e = fmt._read_entry(v)
        for rm in e.get("remove", []):
            full.pop(rm, None)
        for a in e.get("add", []):
            full[a["path"]] = a["key"]
    assert full == fmt._snapshot()


def test_txnlog_vacuum_reclaims_unreferenced_files(spark, tmp_path):
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 4))
    fmt.overwrite_partitions(_batch(spark, 100, 2))  # v0's files now dead
    n_files_before = sum(fmt.file_counts().values())
    deleted = fmt.vacuum(retain_versions=0, min_age_sec=0)
    assert deleted, "expected the superseded files to be reclaimed"
    # live snapshot unaffected
    assert fmt.read(spark).count() == 2
    assert sum(fmt.file_counts().values()) == n_files_before
    # nothing left to vacuum on a second pass
    assert fmt.vacuum(retain_versions=0, min_age_sec=0) == []


def test_txnlog_merge_file_granular(spark, tmp_path):
    """MERGE rewrites ONLY the files containing matched rows; other
    files' bytes survive untouched, and the whole op is one commit."""
    import datetime

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 4).coalesce(1))    # file A: uris 0-3
    fmt.append(_batch(spark, 10, 4).coalesce(1))   # file B: uris 10-13
    fmt.append(_batch(spark, 20, 4).coalesce(1))   # file C: uris 20-23
    assert sum(fmt.file_counts().values()) == 3
    live_before = set(fmt._snapshot())

    # batch: update uri 11 (matches file B only) + insert a new uri
    upd = _batch(spark, 11, 1).withColumn(
        "cid", F.lit("UPDATED")
    ).unionByName(_batch(spark, 99, 1))
    stats = fmt.merge(upd, on=["uri", "key"])
    assert stats["files_rewritten"] == 1

    rows = {r["uri"]: r["cid"] for r in fmt.read(spark).collect()}
    assert rows["at://u/p/11"] == "UPDATED"
    assert rows["at://u/p/99"].startswith("c")
    assert len(rows) == 13  # 12 original + 1 inserted
    # files A and C are byte-identical survivors
    live_after = set(fmt._snapshot())
    assert len(live_before & live_after) == 2
    assert fmt.history()[-1]["op"] == "merge"
    # time travel: pre-merge snapshot still shows the old cid
    pre = fmt.read(spark, version=2)
    old = {r["uri"]: r["cid"] for r in pre.collect()}
    assert old["at://u/p/11"] != "UPDATED" and len(old) == 12


def test_txnlog_merge_into_empty_table_is_insert(spark, tmp_path):
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    stats = fmt.merge(_batch(spark, 0, 3), on=["uri", "key"])
    assert stats["files_rewritten"] == 0
    assert fmt.read(spark).count() == 3


def test_txnlog_merge_pure_update_no_inserts(spark, tmp_path):
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 6))
    upd = _batch(spark, 2, 2).withColumn("cid", F.lit("X"))
    fmt.merge(upd, on=["uri", "key"])
    rows = {r["uri"]: r["cid"] for r in fmt.read(spark).collect()}
    assert len(rows) == 6
    assert rows["at://u/p/2"] == "X" and rows["at://u/p/3"] == "X"
    assert rows["at://u/p/0"] != "X"


def test_txnlog_change_data_feed(spark, tmp_path):
    """changes_between reconstructs row-level inserts/deletes from the
    log alone: appends surface as inserts, retention as deletes (plus
    re-inserts of survivors it restaged), and an empty interval is
    empty."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    store = PostStore(spark, str(tmp_path / "t"), fmt=fmt)
    store.upsert(_batch(spark, 0, 6))          # v0: 6 inserts
    v0 = fmt._versions()[-1]
    store.upsert(_batch(spark, 6, 4))          # v1: 4 inserts
    v1 = fmt._versions()[-1]

    cdf = fmt.changes_between(spark, v0, v1)
    rows = cdf.collect()
    assert {r["_change"] for r in rows} == {"insert"}
    assert {r["uri"] for r in rows} == {f"at://u/p/{i}" for i in range(6, 10)}

    # retention to 7: net effect = 3 oldest rows disappear
    store.apply_retention({"k1": 7})
    v2 = fmt._versions()[-1]
    cdf2 = fmt.changes_between(spark, v1, v2).collect()
    ins = {r["uri"] for r in cdf2 if r["_change"] == "insert"}
    dels = {r["uri"] for r in cdf2 if r["_change"] == "delete"}
    # rewrite restages survivors: cancel pairs to get the net change
    net_deleted = dels - ins
    assert len(net_deleted) == 3
    assert fmt.read(spark).count() == 7

    # empty interval
    assert fmt.changes_between(spark, v2, v2).count() == 0


def test_txnlog_compaction_routed_and_isolated(spark, tmp_path):
    """PostStore.compact on the txn-log format: fragmented partitions
    collapse to one file in ONE commit, and a reader holding the
    pre-compaction snapshot is untouched."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    store = PostStore(spark, str(tmp_path / "t"), fmt=fmt)
    for i in range(6):
        store.upsert(_batch(spark, i * 10, 3).coalesce(1))
    assert fmt.file_counts()["k1"] == 6
    before = store.read()
    compacted = store.compact(max_files_per_key=4)
    assert compacted == ["k1"]
    assert fmt.file_counts()["k1"] < 6
    assert store.read().count() == 18
    assert before.count() == 18  # old snapshot still valid
    assert fmt.history()[-1]["op"] == "overwrite"


def test_txnlog_cdf_incremental_view_maintenance(spark, tmp_path):
    """A downstream aggregate maintained INCREMENTALLY from the change
    feed must equal a full recompute after every sync — the
    incremental-consumer pattern the CDF exists for (inserts add,
    deletes subtract; rewrite churn cancels out by construction)."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    store = PostStore(spark, str(tmp_path / "t"), fmt=fmt)

    view = {}  # maintained per-key row count

    def sync(v_from, v_to):
        for r in (
            fmt.changes_between(spark, v_from, v_to)
            .groupBy("key", "_change")
            .count()
            .collect()
        ):
            delta = r["count"] if r["_change"] == "insert" else -r["count"]
            view[r["key"]] = view.get(r["key"], 0) + delta

    def full():
        return {
            r["key"]: r["count"]
            for r in store.read().groupBy("key").count().collect()
        }

    store.upsert(_batch(spark, 0, 6))
    v = fmt._versions()[-1]
    sync(-1, v)
    assert view == full() == {"k1": 6}

    store.upsert(_batch(spark, 3, 7))  # 3 dup, 4 new
    store.apply_retention({"k1": 8})
    v2 = fmt._versions()[-1]
    sync(v, v2)
    assert {k: n for k, n in view.items() if n} == full() == {"k1": 8}

    store.apply_refresh("k1", -1)  # empty the key
    v3 = fmt._versions()[-1]
    sync(v2, v3)
    assert {k: n for k, n in view.items() if n} == full() == {}


def test_txnlog_clone_is_zero_copy_and_divergent(spark, tmp_path):
    """CLONE hard-links the snapshot's data files (same inode, no bytes
    copied), then the two tables diverge independently; vacuum on one
    side never breaks the other."""
    import os

    fmt = TxnLogFormat(spark, str(tmp_path / "orig"))
    fmt.append(_batch(spark, 0, 6).coalesce(1))
    clone = fmt.clone_to(str(tmp_path / "clone"))
    assert clone.read(spark).count() == 6

    # zero-copy: shared inodes
    (rel,) = list(fmt._snapshot())
    st_a = os.stat(os.path.join(fmt.data_path, rel))
    st_b = os.stat(os.path.join(clone.data_path, rel))
    assert st_a.st_ino == st_b.st_ino

    # divergence: mutate the clone, original unaffected (and vice versa)
    clone.overwrite_partitions(_batch(spark, 100, 2))
    fmt.append(_batch(spark, 50, 1))
    assert clone.read(spark).count() == 2
    assert fmt.read(spark).count() == 7

    # clone's vacuum unlinks only its own entries; original still reads
    deleted = clone.vacuum(retain_versions=0, min_age_sec=0)
    assert deleted  # the superseded linked files left the clone
    assert fmt.read(spark).count() == 7


def test_txnlog_transactional_append_exactly_once(spark, tmp_path):
    """txn=(app, version) appends are exactly-once under replay: the
    same version re-applied writes NOTHING (no commit, no files), a
    higher version applies, and per-app watermarks are independent.
    This protects the crash window between a foreachBatch sink's write
    and its checkpoint — without relying on a natural PK."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 3), txn=("ingest", 0))
    assert fmt.read(spark).count() == 3
    v = len(fmt.history())

    # replay of version 0: skipped wholesale
    fmt.append(_batch(spark, 100, 5), txn=("ingest", 0))
    assert fmt.read(spark).count() == 3
    assert len(fmt.history()) == v

    # next version applies; other app's watermark independent
    fmt.append(_batch(spark, 10, 2), txn=("ingest", 1))
    assert fmt.read(spark).count() == 5
    assert fmt.last_txn_version("ingest") == 1
    assert fmt.last_txn_version("other") == -1
    fmt.append(_batch(spark, 20, 1), txn=("other", 0))
    assert fmt.read(spark).count() == 6

    # an EMPTY txn-tracked batch still advances the watermark
    fmt.append(_batch(spark, 0, 0), txn=("ingest", 2))
    assert fmt.last_txn_version("ingest") == 2
    fmt.append(_batch(spark, 200, 4), txn=("ingest", 2))  # replay: skipped
    assert fmt.read(spark).count() == 6


def test_streaming_sink_exactly_once_with_txn_app_id(spark, tmp_path):
    """foreachBatch sink with txn_app_id on TxnLogFormat: re-running a
    drain from a FRESH checkpoint (same batch ids) performs zero
    physical appends — exactly-once via the txn watermark, not just
    anti-join idempotence."""
    import datetime as dt

    from starryskyqueryengine_spark.schemas import POST_SCHEMA
    from starryskyqueryengine_spark.streaming.pipeline import (
        foreach_batch_upsert,
        parquet_stream,
        run_available_now,
    )

    src = str(tmp_path / "src")
    fmt = TxnLogFormat(spark, str(tmp_path / "store"))
    store = PostStore(spark, str(tmp_path / "store"), fmt=fmt)

    rows = [("p%d" % i, "k1", "c%d" % i, None, None,
             dt.datetime(2024, 1, 1, 0, 0, i)) for i in range(8)]
    spark.createDataFrame(rows, POST_SCHEMA).write.mode("append").parquet(src)

    stream = parquet_stream(spark, src, schema=POST_SCHEMA)
    sink = foreach_batch_upsert(store, txn_app_id="feedgen")
    run_available_now(stream, sink, str(tmp_path / "ck1"))
    assert store.read().count() == 8
    n_commits = len(fmt.history())
    assert fmt.last_txn_version("feedgen") >= 0

    # fresh checkpoint -> Spark replays batch 0 with the SAME batch_id:
    # the txn watermark skips it before any staging happens
    stream = parquet_stream(spark, src, schema=POST_SCHEMA)
    run_available_now(stream, sink, str(tmp_path / "ck2"))
    assert store.read().count() == 8
    assert len(fmt.history()) == n_commits


def test_txnlog_commit_resolves_snapshot_and_version_together(
    spark, tmp_path, monkeypatch
):
    """TOCTOU regression: a rival commit landing BETWEEN the snapshot
    resolution and the version listing used to be counted in the target
    version (os.link succeeded, conflict detection never ran) while its
    files were missing from the remove set — an overwrite left the
    rival's files of the touched key live.  _commit now pins snapshot
    and target version to ONE listing, so the interleaved commit forces
    the put-if-absent conflict path and the overwrite refuses."""
    import json

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 3))  # v0 on k1

    real_snapshot = fmt._snapshot
    armed = {"on": False}

    def racing_snapshot(version=None):
        snap = real_snapshot(version=version)
        if armed["on"]:
            armed["on"] = False
            v = fmt._versions()[-1] + 1
            with open(fmt._entry_path(v), "w") as f:
                json.dump(
                    {"version": v, "op": "append", "ts": 0, "remove": [],
                     "add": [{"path": f"key=k1/rival-{v}.parquet",
                              "key": "k1"}]},
                    f,
                )
        return snap

    monkeypatch.setattr(fmt, "_snapshot", racing_snapshot)
    armed["on"] = True
    with pytest.raises(ConcurrentWriteError, match="conflicts"):
        fmt.overwrite_partitions(_batch(spark, 50, 1))
    # the rival's file must still be live — the failed overwrite must not
    # have removed or orphaned it
    live = real_snapshot()
    assert any("rival-" in p for p in live), live


def test_poststore_txn_feature_detect_is_static(spark, tmp_path):
    """A TypeError raised INSIDE a txn-capable append must propagate —
    never be misread as 'no txn support' and retried on the plain path
    (which would duplicate the append)."""
    calls = []

    class ExplodingTxnFormat(TableFormat):
        def exists(self):
            return False

        def read(self, spark, keys=None):
            raise AssertionError("not read in this test")

        def append(self, df, txn=None):
            calls.append(txn)
            raise TypeError("boom inside a txn-capable append")

        def overwrite_partitions(self, df, expected_keys=None):
            raise AssertionError

        def delete_partition(self, key):
            raise AssertionError

        def delete_where(self, df, condition):
            raise AssertionError

        def file_counts(self):
            return {}

    store = PostStore(spark, str(tmp_path / "s"), fmt=ExplodingTxnFormat())
    with pytest.raises(TypeError, match="boom"):
        store._append(spark.range(1), txn=("app", 1))
    # exactly ONE attempt, on the txn path — no silent plain-path retry
    assert calls == [("app", 1)]

    class PlainFormat(ExplodingTxnFormat):
        def append(self, df):  # no txn parameter at all
            calls.append("plain")

    store2 = PostStore(spark, str(tmp_path / "s2"), fmt=PlainFormat())
    store2._append(spark.range(1), txn=("app", 2))
    assert calls[-1] == "plain"


def test_txnlog_optimize_compacts_small_files(spark, tmp_path):
    """Many micro-batch appends -> one OPTIMIZE commit coalesces each
    key's small files; rows and values are unchanged; earlier versions
    still read the pre-compaction layout (snapshot-safe)."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    for i in range(6):
        fmt.append(_batch(spark, i * 10, 3))          # 6 small files on k1
        fmt.append(_batch(spark, i * 10, 2, key="k2"))  # 6 on k2
    before_files = fmt.file_counts()
    assert before_files["k1"] >= 6 and before_files["k2"] >= 6
    before_rows = sorted(
        (r["uri"], r["key"]) for r in fmt.read(spark).collect()
    )
    v_before = fmt.history()[-1]["version"]

    stats = fmt.optimize(target_bytes=1 << 30)  # everything fits one bin/key
    assert stats["files_compacted"] >= 12
    assert stats["bins"] == 2
    after_files = fmt.file_counts()
    assert after_files["k1"] < before_files["k1"]
    assert after_files["k2"] < before_files["k2"]
    # results unchanged
    after_rows = sorted((r["uri"], r["key"]) for r in fmt.read(spark).collect())
    assert after_rows == before_rows
    # a reader pinned before the compaction sees the OLD layout, same rows
    old = sorted(
        (r["uri"], r["key"]) for r in fmt.read(spark, version=v_before).collect()
    )
    assert old == before_rows
    assert fmt.history()[-1]["op"] == "optimize"


def test_txnlog_optimize_respects_target_and_min_files(spark, tmp_path):
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 3))
    n_live = len(fmt._snapshot())
    # fewer small files than min_files: nothing worth compacting
    assert fmt.optimize(min_files=n_live + 1)["files_compacted"] == 0
    # tiny target: every file exceeds it -> no compaction either
    assert fmt.optimize(target_bytes=10)["files_compacted"] == 0
    # real target: all of the key's files coalesce into one
    stats = fmt.optimize(target_bytes=1 << 30)
    assert stats["files_compacted"] == n_live and stats["files_added"] == 1


def test_txnlog_optimize_loses_race_to_concurrent_writer(
    spark, tmp_path, monkeypatch
):
    """Compaction racing a real write on the same key must refuse, and
    the table must stay exactly as the rival writer left it."""
    import json
    import os as _os

    import starryskyqueryengine_spark.table_format as tf_mod

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 3))
    fmt.append(_batch(spark, 10, 3))

    real_link = _os.link
    armed = {"on": True}

    def racing_link(src, dst):
        if armed["on"] and _os.sep + TxnLogFormat.LOG_DIR + _os.sep in dst:
            armed["on"] = False
            v = fmt._versions()[-1] + 1
            with open(fmt._entry_path(v), "w") as f:
                json.dump(
                    {"version": v, "op": "append", "ts": 0, "remove": [],
                     "add": [{"path": f"key=k1/rival-{v}.parquet",
                              "key": "k1"}]},
                    f,
                )
        return real_link(src, dst)

    monkeypatch.setattr(tf_mod.os, "link", racing_link)
    with pytest.raises(ConcurrentWriteError, match="conflicts"):
        fmt.optimize(target_bytes=1 << 30)
    assert any("rival-" in p for p in fmt._snapshot())


# ------------------------------------------------------ log-level skipping


def _day_batch(spark, n0, n, day, key="k1"):
    import datetime

    rows = [
        {
            "uri": f"at://u/p/{i}",
            "cid": f"c{i:03d}",
            "text": "x",
            "createdAt": datetime.datetime(2026, 1, day, 0, 0, i % 60),
        }
        for i in range(n0, n0 + n)
    ]
    df = make_posts(spark, rows)
    return df.select(
        "uri",
        F.lit(key).alias("key"),
        "cid",
        "replyParent",
        "replyRoot",
        F.col("createdAt").alias("indexedAt"),
    ).coalesce(1)  # one staged file per batch: deterministic file counts


def _us(day):
    import datetime

    return int(
        datetime.datetime(
            2026, 1, day, tzinfo=datetime.timezone.utc
        ).timestamp()
        * 1_000_000
    )


def _files_read(df):
    # planned scan set (not post-filter survivors): the pruning claim is
    # about which files the plan OPENS
    return len(set(df.inputFiles()))


def test_read_where_ts_prunes_files_invisibly(spark, tmp_path):
    """Stats-based log-level skipping: a time-bounded read opens only
    files whose [min,max] indexedAt overlaps the window, and the result
    is IDENTICAL to filtering the full scan."""
    from starryskyqueryengine_spark.table_format import TxnLogFormat

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    for day, n0 in [(1, 0), (10, 100), (20, 200)]:
        fmt.append(_day_batch(spark, n0, 5, day))

    pruned = fmt.read_where_ts(spark, ts_min_us=_us(9), ts_max_us=_us(11))
    full = fmt.read(spark).filter(
        (F.unix_micros("indexedAt") >= _us(9))
        & (F.unix_micros("indexedAt") <= _us(11))
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert pruned.count() == 5
    # only the day-10 file was opened; the full table has 3 files
    assert _files_read(fmt.read(spark)) == 3
    assert _files_read(
        fmt.read_where_ts(spark, ts_min_us=_us(9), ts_max_us=_us(11))
    ) == 1
    # window outside all data reads zero files and zero rows
    assert fmt.read_where_ts(spark, ts_min_us=_us(25)).count() == 0


def test_stats_survive_checkpoint(spark, tmp_path):
    """Checkpoints must carry the stats map so skipping keeps working
    after log compaction bounds the replay."""
    from starryskyqueryengine_spark.table_format import TxnLogFormat

    fmt = TxnLogFormat(spark, str(tmp_path / "t"), checkpoint_interval=2)
    for day, n0 in [(1, 0), (10, 100), (20, 200), (25, 300)]:
        fmt.append(_day_batch(spark, n0, 4, day))
    assert fmt._checkpoints()  # a checkpoint exists below the tip
    stats = fmt._snapshot_stats()
    assert len(stats) == 4  # including files recorded BEFORE the checkpoint
    assert _files_read(
        fmt.read_where_ts(spark, ts_min_us=_us(19), ts_max_us=_us(21))
    ) == 1


def test_files_without_stats_always_read(spark, tmp_path):
    """Pre-stats commits (or stripped stats) cannot be pruned — they are
    always opened, so skipping degrades conservatively, never wrongly."""
    import json
    import os as _os

    from starryskyqueryengine_spark.table_format import TxnLogFormat

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_day_batch(spark, 0, 5, 1))
    fmt.append(_day_batch(spark, 100, 5, 20))
    # simulate an old-format commit: strip stats from v0's entry
    p = fmt._entry_path(0)
    e = json.load(open(p))
    for a in e["add"]:
        a.pop("stats", None)
    tmp = p + ".rewrite"
    with open(tmp, "w") as f:
        json.dump(e, f)
    _os.replace(tmp, p)

    # day-20 window: v0's stat-less file must still be read (2 files)
    assert _files_read(
        fmt.read_where_ts(spark, ts_min_us=_us(19), ts_max_us=_us(21))
    ) == 2
    got = fmt.read_where_ts(spark, ts_min_us=_us(19), ts_max_us=_us(21))
    assert got.count() == 5  # exact residual filter still applies


def test_gdpr_hard_delete_bytes_unrecoverable(spark, tmp_path):
    """Right-to-be-forgotten flow: CDC row delete -> vacuum must leave
    NO physical byte trace of the forgotten rows anywhere under the
    table directory — not merely filter them out of reads.  Snapshot
    isolation means the delete alone is NOT enough (the old files stay
    on disk for time travel); vacuum(0) is the hard-delete step, and
    this pins that contract end to end.
    """
    import datetime as dt
    import os

    from starryskyqueryengine_spark.store import PostStore
    from starryskyqueryengine_spark.table_format import TxnLogFormat

    path = str(tmp_path / "gdpr")
    store = PostStore(spark, path, fmt=TxnLogFormat(spark, path))
    marker = "FORGETME-7f3a9"
    rows = [
        {"uri": f"at://u/{marker}/{i}" if i % 10 == 0 else f"at://u/keep/{i}",
         "key": "feed", "cid": f"c{i:04d}", "replyParent": None,
         "replyRoot": None, "indexedAt": dt.datetime(2024, 1, 1, 0, 0, i % 60)}
        for i in range(100)
    ]
    from starryskyqueryengine_spark.schemas import POST_SCHEMA

    store._append(spark.createDataFrame(rows, POST_SCHEMA))

    def disk_contains(needle: bytes) -> bool:
        for root, _dirs, files in os.walk(path):
            for fn in files:
                with open(os.path.join(root, fn), "rb") as f:
                    if needle in f.read():
                        return True
        return False

    assert disk_contains(marker.encode())

    doomed = store.read().filter(F.col("uri").contains(marker)).select("uri", "key")
    store.delete_rows(doomed)
    # logically gone...
    assert store.read().filter(F.col("uri").contains(marker)).count() == 0
    # ...but snapshot isolation keeps old files for time travel: the
    # bytes are still on disk until vacuum
    assert disk_contains(marker.encode()), "delete alone should NOT purge bytes"

    store.fmt.vacuum(retain_versions=0, min_age_sec=0)
    assert not disk_contains(marker.encode()), (
        "vacuum must physically remove every file containing forgotten rows"
    )
    # surviving data intact
    assert store.read().count() == 90


def test_schema_evolution_append_widens_and_time_travels(spark, tmp_path):
    """Appending a batch with a NEW column evolves the table schema in
    the same atomic commit: old rows read back NULL for it, the log
    records the StructType, and time travel to a pre-evolution version
    reads the OLD (narrower) schema."""
    from starryskyqueryengine_spark.table_format import TxnLogFormat

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 3))               # v0: POST columns
    v0_cols = [f.name for f in fmt.table_schema().fields]
    fmt.append(
        _batch(spark, 3, 2).withColumn("quality", F.lit(0.5))
    )                                             # v1: + quality double
    cols = [f.name for f in fmt.table_schema().fields]
    assert cols == v0_cols + ["quality"]
    got = {r["uri"]: r["quality"] for r in fmt.read(spark).collect()}
    assert got["at://u/p/0"] is None and got["at://u/p/3"] == 0.5
    # time travel: version 0 has no quality column at all
    assert "quality" not in fmt.read(spark, version=0).columns
    # a later batch MISSING the evolved column is NULL-filled, not an error
    fmt.append(_batch(spark, 5, 1))
    got = {r["uri"]: r["quality"] for r in fmt.read(spark).collect()}
    assert got["at://u/p/5"] is None and len(got) == 6


def test_schema_evolution_type_conflict_raises(spark, tmp_path):
    from starryskyqueryengine_spark.table_format import (
        SchemaEvolutionError,
        TxnLogFormat,
    )

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 2))
    bad = _batch(spark, 2, 1).withColumn("cid", F.lit(7))  # cid: string->int
    with pytest.raises(SchemaEvolutionError, match="cid"):
        fmt.append(bad)
    # table unchanged: still 2 rows, cid still string
    assert fmt.read(spark).count() == 2
    assert dict(fmt.read(spark).dtypes)["cid"] == "string"


def test_schema_evolution_merge_optimize_clone(spark, tmp_path):
    """Evolution composes with the rest of the lifecycle: MERGE with a
    new column widens the table and NULL-fills kept rows; OPTIMIZE
    compacts across the schema boundary; CLONE carries the evolved
    schema into the new table's log."""
    from starryskyqueryengine_spark.table_format import TxnLogFormat

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 4))
    batch = _batch(spark, 2, 3).withColumn("lang", F.lit("en"))
    stats = fmt.merge(batch, on=["uri", "key"])
    assert stats["files_rewritten"] >= 1
    got = {r["uri"]: r["lang"] for r in fmt.read(spark).collect()}
    assert len(got) == 5                       # 0..4, rows 2-3 updated
    assert got["at://u/p/0"] is None and got["at://u/p/2"] == "en"

    n_before = fmt.read(spark).count()
    fmt.optimize(min_files=2)
    after = fmt.read(spark)
    assert after.count() == n_before and "lang" in after.columns

    clone = fmt.clone_to(str(tmp_path / "c"))
    assert [f.name for f in clone.table_schema().fields] == [
        f.name for f in fmt.table_schema().fields
    ]
    assert clone.read(spark).count() == n_before


def test_check_constraints_enforced_on_writes(spark, tmp_path):
    """Delta-style CHECK constraints: ADD CONSTRAINT validates existing
    rows, later writes enforce it (append, overwrite, merge), NULL
    evaluates as satisfied (SQL CHECK semantics), DROP lifts it, and
    CLONE carries the constraint set."""
    from starryskyqueryengine_spark.table_format import (
        ConstraintViolationError,
        TxnLogFormat,
    )

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 3))
    fmt.add_constraint("cid_format", "cid LIKE 'c%'")
    assert fmt.constraints() == {"cid_format": "cid LIKE 'c%'"}

    bad = _batch(spark, 3, 2).withColumn("cid", F.lit("x999"))
    with pytest.raises(ConstraintViolationError, match="cid_format"):
        fmt.append(bad)
    assert fmt.read(spark).count() == 3          # nothing committed

    # NULL passes (CHECK is violated only when FALSE)
    fmt.append(_batch(spark, 3, 1).withColumn("cid", F.lit(None).cast("string")))
    assert fmt.read(spark).count() == 4

    with pytest.raises(ConstraintViolationError):
        fmt.merge(bad, on=["uri", "key"])

    # adding a constraint the existing data violates fails up front
    with pytest.raises(ConstraintViolationError, match="existing rows"):
        fmt.add_constraint("no_nulls", "cid IS NOT NULL")

    fmt.drop_constraint("cid_format")
    fmt.append(_batch(spark, 5, 1).withColumn("cid", F.lit("x999")))
    assert fmt.read(spark).count() == 5  # rows 0,1,2,3,5

    fmt.add_constraint("uri_prefix", "uri LIKE 'at://%'")
    clone = fmt.clone_to(str(tmp_path / "c"))
    assert clone.constraints() == {"uri_prefix": "uri LIKE 'at://%'"}
    with pytest.raises(ConstraintViolationError):
        clone.append(_batch(spark, 9, 1).withColumn("uri", F.lit("bad")))


def test_merge_and_optimize_with_escaped_partition_values(spark, tmp_path):
    """Partition values needing escaping (a space is stored as %20 in
    the on-disk directory name) must not break file attribution:
    input_file_name() returns DECODED paths, so merge/optimize attribute
    by unique file basename instead of the escaped relative path.
    Regression for a stale-file-attribution ValueError found via the
    acid_schema_evolution query (orders' '4-NOT SPECIFIED' priority)."""
    from starryskyqueryengine_spark.table_format import TxnLogFormat

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 4, key="NOT SPECIFIED"))
    fmt.append(_batch(spark, 4, 2, key="NOT SPECIFIED"))
    batch = _batch(spark, 2, 4, key="NOT SPECIFIED").withColumn(
        "cid", F.concat(F.lit("u"), F.col("cid"))
    )
    stats = fmt.merge(batch, on=["uri", "key"])
    assert stats["files_rewritten"] >= 1
    got = {r["uri"]: r["cid"] for r in fmt.read(spark).collect()}
    assert len(got) == 6
    assert got["at://u/p/0"].startswith("c") and got["at://u/p/3"].startswith("uc")
    r = fmt.optimize(min_files=2)
    assert r["files_compacted"] >= 2
    after = {r["uri"]: r["cid"] for r in fmt.read(spark).collect()}
    assert after == got


def test_optimize_targeted_keys_speak_raw_not_escaped(spark, tmp_path):
    """ADVICE r10: optimize(keys=...) compared raw caller keys against
    ESCAPED snapshot keys, so a targeted compaction of a key containing
    ':' '/' '#' silently no-opped — the same raw/escaped boundary class
    fixed in delete_partition/upsert/file_counts in r10.  Callers speak
    raw keys everywhere else; optimize must too."""
    from starryskyqueryengine_spark.table_format import TxnLogFormat

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    raw_key = "feed:a/b#1"
    for i in range(3):
        fmt.append(_batch(spark, i * 10, 2, key=raw_key))
        fmt.append(_batch(spark, i * 10, 2, key="plain"))
    before = fmt.file_counts()
    assert before[raw_key] >= 3 and before["plain"] >= 3
    stats = fmt.optimize(target_bytes=1 << 30, keys=[raw_key])
    assert stats["files_compacted"] >= 3  # the escaped key DID compact
    after = fmt.file_counts()
    assert after[raw_key] < before[raw_key]
    assert after["plain"] == before["plain"]  # untargeted key untouched
    # rows unchanged
    assert fmt.read(spark).filter(F.col("key") == raw_key).count() == 6


def test_restore_to_version(spark, tmp_path):
    """RESTORE: one metadata-only commit makes the current snapshot
    equal an earlier version — removed files re-added, newer files
    removed, schema reverted — history preserved (a restore can be
    restored away), and restoring past a vacuum refuses instead of
    resurrecting a partial snapshot."""
    from starryskyqueryengine_spark.table_format import TxnLogFormat

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 4))                          # v0
    fmt.append(_batch(spark, 4, 2).withColumn("score", F.lit(1.0)))  # v1 (evolves)
    fmt.overwrite_partitions(_batch(spark, 100, 1))          # v2: replaces k1
    assert fmt.read(spark).count() == 1

    st = fmt.restore(0)
    assert st["files_readded"] >= 1 and st["files_removed"] >= 1
    restored = fmt.read(spark)
    assert restored.count() == 4
    assert "score" not in restored.columns      # schema reverted to v0's
    assert fmt.history()[-1]["op"] == "restore"

    # restore the restore away: back to v2's single row, score column back
    fmt.restore(2)
    assert fmt.read(spark).count() == 1
    assert "score" in fmt.read(spark).columns

    # time travel still sees every epoch
    assert fmt.read(spark, version=0).count() == 4
    assert fmt.read(spark, version=2).count() == 1

    # vacuum then attempt to restore past it -> refuse
    fmt.vacuum(min_age_sec=0)
    with pytest.raises(ValueError, match="vacuumed"):
        fmt.restore(0)


def test_cdf_replication_pipeline_exactly_once(spark, tmp_path):
    """Compose the round-6 pieces into the standard lakehouse pattern:
    replicate table A into table B by streaming A's commit log
    (starrysky_table_changes) into a TxnLogFormat sink with
    txnAppId/txnVersion exactly-once appends. Drain, append more to A,
    drain again (same checkpoint): B must equal A's insert feed with
    ZERO duplicates, and a replayed drain appends nothing."""
    from starryskyqueryengine_spark.sources.table_changes import (
        register_table_changes_source,
    )
    from starryskyqueryengine_spark.table_format import TxnLogFormat

    register_table_changes_source(spark)
    a = TxnLogFormat(spark, str(tmp_path / "a"))
    b = TxnLogFormat(spark, str(tmp_path / "b"))
    a.append(_batch(spark, 0, 5))
    a.append(_batch(spark, 5, 3, key="k2"))

    stream = (
        spark.readStream.format("starrysky_table_changes")
        .option("path", str(tmp_path / "a"))
        .load()
    )
    cols = ["uri", "key", "cid", "replyParent", "replyRoot", "indexedAt"]

    def sink(bdf, bid):
        ins = bdf.filter(F.col("_change") == "insert").select(cols)
        b.append(ins, txn=("repl", bid))

    def drain():
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert b.read(spark).count() == 8
    a.append(_batch(spark, 20, 2))
    drain()
    assert b.read(spark).count() == 10
    # replay the LAST batch manually (crash-between-sink-and-checkpoint
    # window): the txn watermark makes the duplicate append a no-op
    last = b.last_txn_version("repl")
    b.append(_batch(spark, 20, 2), txn=("repl", last))
    assert b.read(spark).count() == 10


# ------------------------------------------- round-8: concurrency closure
# (round-7 verdict #2/#3/#4/#5 + advice #1: the validated_at conflict
# scan, the _commit_meta half of the constraint TOCTOU, restore
# re-validation, O(interval) metadata, identical-schema rebase)

from starryskyqueryengine_spark.table_format import (  # noqa: E402
    ConstraintViolationError,
)


def _rival_entry(
    fmt, *, key="k1", schema_json=None, constraint=None, restore_removes=None
):
    """Write a rival commit directly into the log at tip+1 — the
    interleaved writer the racing-link tests simulate."""
    import json
    import os

    v = (fmt._versions()[-1] + 1) if fmt._versions() else 0
    entry = {
        "version": v,
        "op": "append",
        "ts": 0,
        "remove": [],
        "add": [{"path": f"key={key}/rival-{v}.parquet", "key": key}],
    }
    if schema_json is not None:
        entry["schema"] = schema_json
    if constraint is not None:
        entry["op"] = "meta"
        entry["add"] = []
        entry["constraint_add"] = constraint
    if restore_removes is not None:
        # a remove-only schema-reverting restore: add:[] but the logged
        # schema rewinds the table contract
        entry["op"] = "restore"
        entry["add"] = []
        entry["remove"] = list(restore_removes)
    for a in entry["add"]:
        # a real (zero-row) parquet file so post-race reads don't trip
        # over a phantom path
        import pyarrow as pa
        import pyarrow.parquet as pq

        full = os.path.join(fmt.data_path, a["path"])
        os.makedirs(os.path.dirname(full), exist_ok=True)
        pq.write_table(pa.table({"uri": pa.array([], type=pa.string())}), full)
    with open(fmt._entry_path(v), "w") as f:
        json.dump(entry, f)
    return v


def _normalized_json(schema):
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields]
    ).jsonValue()


def _arm_racing_link(monkeypatch, fmt, rival_fn):
    """First link into the log loses the put-if-absent race to
    ``rival_fn()`` (which writes a log entry)."""
    import os as _os

    import starryskyqueryengine_spark.table_format as tf_mod

    real_link = _os.link
    armed = {"on": True}

    def racing_link(src, dst):
        if armed["on"] and _os.sep + TxnLogFormat.LOG_DIR + _os.sep in dst:
            armed["on"] = False
            rival_fn()
        return real_link(src, dst)

    monkeypatch.setattr(tf_mod.os, "link", racing_link)


def test_txnlog_concurrent_different_schema_evolutions_conflict(
    spark, tmp_path, monkeypatch
):
    """Two writers concurrently evolving the schema with DIFFERENT new
    columns: blind last-write-wins would silently DROP the first
    writer's column from the logged contract — the second commit must
    raise instead (the round-7 validated_at fix, previously untested)."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 2))  # v0 creates the table

    rival_schema = _normalized_json(
        _batch(spark, 0, 1).withColumn("rival_col", F.lit("r")).schema
    )
    _arm_racing_link(
        monkeypatch, fmt, lambda: _rival_entry(fmt, schema_json=rival_schema)
    )
    with pytest.raises(ConcurrentWriteError, match="DIFFERENT schema"):
        fmt.append(_batch(spark, 10, 2).withColumn("mine_col", F.lit(1.0)))
    # the rival's evolution survived; nothing was rebased over it
    assert "rival_col" in [f.name for f in fmt.table_schema().fields]
    assert "mine_col" not in [f.name for f in fmt.table_schema().fields]


def test_txnlog_concurrent_identical_schemas_rebase(
    spark, tmp_path, monkeypatch
):
    """Round-7 advice #1: two concurrent initial appends with the SAME
    schema (or two evolutions adding the identical column) are not a
    real conflict — either order resolves to the same table schema, so
    the loser must rebase cleanly instead of raising."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    batch = _batch(spark, 0, 2)
    same_schema = _normalized_json(batch.schema)
    _arm_racing_link(
        monkeypatch, fmt, lambda: _rival_entry(fmt, schema_json=same_schema)
    )
    fmt.append(batch)  # must NOT raise
    ops = [h["op"] for h in fmt.history()]
    assert ops == ["append", "append"]  # rival v0 + rebased v1
    assert fmt.read(spark).count() == 2  # rival's ghost file has no data


def test_txnlog_append_validated_before_constraint_add_conflicts(
    spark, tmp_path, monkeypatch
):
    """An append whose validation snapshot predates an interleaved
    ADD CONSTRAINT carries rows never checked against it — the commit
    must fail so the caller re-validates (round-7 fix, now pinned)."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 2))  # v0
    _arm_racing_link(
        monkeypatch,
        fmt,
        lambda: _rival_entry(
            fmt, constraint={"name": "cid_ok", "expr": "cid IS NOT NULL"}
        ),
    )
    with pytest.raises(ConcurrentWriteError, match="cid_ok"):
        fmt.append(_batch(spark, 10, 2))
    # constraint survived and now governs future writes
    assert fmt.constraints() == {"cid_ok": "cid IS NOT NULL"}


def test_txnlog_constraint_add_revalidates_interleaved_append(
    spark, tmp_path, monkeypatch
):
    """The MIRROR ordering (round-7 verdict #3): add_constraint
    validates the snapshot, then a data append lands BEFORE the
    constraint's meta-commit links. The constraint must not land over
    those unchecked rows — it re-validates against the new snapshot,
    failing when they violate and landing when they satisfy."""
    real_commit_meta = TxnLogFormat._commit_meta
    state = {"interleave": None, "fmt": None}

    def interleaving_commit_meta(self, extra, validated_at=None):
        batch = state.pop("interleave", None)
        if batch is not None:
            state["fmt"].append(batch)  # between validation and the link
        return real_commit_meta(self, extra, validated_at=validated_at)

    monkeypatch.setattr(TxnLogFormat, "_commit_meta", interleaving_commit_meta)

    # (a) interleaved rows VIOLATE: the re-validation must catch them
    fmt = TxnLogFormat(spark, str(tmp_path / "a"))
    state["fmt"] = fmt
    fmt.append(_batch(spark, 0, 2))  # v0: all cids non-null
    state["interleave"] = _batch(spark, 10, 2).withColumn(
        "cid", F.lit(None).cast("string")
    )
    with pytest.raises(ConstraintViolationError, match="cid_ok"):
        fmt.add_constraint("cid_ok", "cid IS NOT NULL")
    assert fmt.constraints() == {}  # nothing landed
    assert fmt.read(spark).count() == 4  # the interleaved append DID land

    # (b) interleaved rows SATISFY (fresh table): re-validation passes
    # and the constraint lands AFTER the interleaved commit
    fmt2 = TxnLogFormat(spark, str(tmp_path / "b"))
    state["fmt"] = fmt2
    fmt2.append(_batch(spark, 0, 2))
    state["interleave"] = _batch(spark, 20, 2)
    fmt2.add_constraint("cid_ok", "cid IS NOT NULL")
    assert fmt2.constraints() == {"cid_ok": "cid IS NOT NULL"}
    ops = [h["op"] for h in fmt2.history()]
    assert ops == ["append", "append", "meta"]


def test_txnlog_constraint_add_revalidation_sees_interleaved_nulls(
    spark, tmp_path, monkeypatch
):
    """Once violating rows are IN the table, add_constraint always
    fails — interleaved or not (baseline for the race tests above)."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 2))
    fmt.append(
        _batch(spark, 10, 1).withColumn("cid", F.lit(None).cast("string"))
    )
    with pytest.raises(ConstraintViolationError, match="cid_ok"):
        fmt.add_constraint("cid_ok", "cid IS NOT NULL")


def test_txnlog_restore_revalidates_readded_files(spark, tmp_path):
    """Round-7 verdict #4: files removed BEFORE an ADD CONSTRAINT were
    never scanned by its validation — restore must re-validate re-adds
    against the active constraint set instead of silently resurrecting
    violating rows under an active CHECK."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    bad = _batch(spark, 0, 2).withColumn("cid", F.lit(None).cast("string"))
    fmt.append(bad)                                  # v0: violating rows
    fmt.delete_partition("k1")                       # v1: they are gone
    fmt.append(_batch(spark, 10, 2))                 # v2: clean rows
    fmt.add_constraint("cid_ok", "cid IS NOT NULL")  # v3: validates v2 only
    with pytest.raises(ConstraintViolationError, match="cid_ok"):
        fmt.restore(0)  # would re-add v0's unvalidated, violating files
    # table unchanged by the refused restore
    assert fmt.read(spark).count() == 2
    # restoring to a version whose re-adds SATISFY the constraint works
    fmt.restore(2)
    assert fmt.read(spark).count() == 2
    assert fmt.constraints() == {"cid_ok": "cid IS NOT NULL"}


def test_txnlog_metadata_reads_are_o_interval(spark, tmp_path):
    """Round-7 verdict #5: constraints()/table_schema()/
    last_txn_version() resume from the newest checkpoint's meta block —
    entry reads per call are bounded by the checkpoint interval, not
    the log length."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"), checkpoint_interval=4)
    fmt.append(_batch(spark, 0, 1).withColumn("score", F.lit(1.0)))
    fmt.add_constraint("uri_ok", "uri IS NOT NULL")
    for i in range(12):
        fmt.append(_batch(spark, 10 + i * 10, 1), txn=("app", i))
    n_log = len(fmt._versions())
    assert n_log >= 14 and fmt._checkpoints()

    fmt2 = TxnLogFormat(spark, str(tmp_path / "t"), checkpoint_interval=4)
    reads = {"n": 0}
    real_read = fmt2._read_entry

    def counting_read(v):
        reads["n"] += 1
        return real_read(v)

    fmt2._read_entry = counting_read
    assert fmt2.constraints() == {"uri_ok": "uri IS NOT NULL"}
    assert "score" in [f.name for f in fmt2.table_schema().fields]
    assert fmt2.last_txn_version("app") == 11
    # 3 calls, each reading only the entries past the newest checkpoint
    per_call = fmt2.checkpoint_interval
    assert reads["n"] <= 3 * per_call, (reads["n"], n_log)
    # and the resumed answers equal a from-scratch replay
    full = {}
    for v in fmt2._versions():
        e = real_read(v)
        c = e.get("constraint_add")
        if c:
            full[c["name"]] = c["expr"]
        if e.get("constraint_drop"):
            full.pop(e["constraint_drop"], None)
    assert full == fmt2.constraints()


def test_txnlog_restore_refuses_constraint_on_reverted_column(spark, tmp_path):
    """Restore reverts the schema to the target version's — an active
    constraint referencing a column that does not exist there cannot
    govern the restored snapshot, so the restore must refuse with a
    clear error instead of a raw analysis failure."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 2))                       # v0: no 'score'
    fmt.delete_partition("k1")                            # v1
    fmt.append(_batch(spark, 10, 2).withColumn("score", F.lit(1.0)))  # v2
    fmt.add_constraint("score_pos", "score >= 0")         # v3
    with pytest.raises(ConstraintViolationError, match="score_pos|not evaluable"):
        fmt.restore(0)  # v0's schema has no 'score' column


def test_txnlog_restore_conflicts_with_interleaved_constraint_add(
    spark, tmp_path, monkeypatch
):
    """restore() pins the tip its validation read: an ADD CONSTRAINT
    landing between the validation and the restore's commit must fail
    the restore (its re-added files were never checked against the new
    constraint) rather than silently resurrect them under it."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 2))       # v0
    fmt.delete_partition("k1")            # v1: v0's files removed
    _arm_racing_link(
        monkeypatch,
        fmt,
        lambda: _rival_entry(
            fmt, constraint={"name": "cid_ok", "expr": "cid IS NOT NULL"}
        ),
    )
    with pytest.raises(ConcurrentWriteError, match="cid_ok"):
        fmt.restore(0)  # re-adds v0's files; validated before cid_ok
    # constraint survived, table still empty
    assert fmt.constraints() == {"cid_ok": "cid IS NOT NULL"}
    assert fmt.read(spark).count() == 0


def test_txnlog_remove_only_restore_conflicts_with_interleaved_constraint(
    spark, tmp_path, monkeypatch
):
    """A restore with NO re-adds still carries the reverted schema — an
    ADD CONSTRAINT landing between the restore's validation and its
    commit was never evaluability-probed against that reverted schema
    (it may reference a column the restore removes), so the restore
    must raise instead of committing over it."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 2))                                   # v0
    fmt.append(_batch(spark, 10, 2).withColumn("score", F.lit(1.0)))  # v1
    _arm_racing_link(
        monkeypatch,
        fmt,
        lambda: _rival_entry(
            fmt, constraint={"name": "score_pos", "expr": "score >= 0"}
        ),
    )
    with pytest.raises(ConcurrentWriteError, match="score_pos"):
        fmt.restore(0)  # re_adds empty (v0 files still live); schema
        # reverts to v0's (no 'score') — would wedge score_pos
    # the constraint survived and the table was not reverted
    assert fmt.constraints() == {"score_pos": "score >= 0"}
    assert "score" in [f.name for f in fmt.table_schema().fields]


def test_txnlog_add_constraint_conflicts_with_interleaved_restore(
    spark, tmp_path, monkeypatch
):
    """The mirror ordering: add_constraint validates, then a
    schema-reverting remove-only restore (add:[], logged schema) lands
    first. _commit_meta's conflict scan must treat the schema-bearing
    entry as a conflict — otherwise the constraint lands referencing a
    column the restore just removed and every later write fails with a
    raw analysis error.  The conflict forces a re-validate, which then
    refuses cleanly: the expression is unanalyzable against the
    restored (reverted) schema."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 2))                                   # v0
    fmt.append(_batch(spark, 10, 2).withColumn("score", F.lit(1.0)))  # v1
    v0_schema = _normalized_json(fmt.table_schema(0))
    v1_only = [p for p in fmt._snapshot() if p not in fmt._snapshot(0)]
    _arm_racing_link(
        monkeypatch,
        fmt,
        lambda: _rival_entry(
            fmt, schema_json=v0_schema, restore_removes=v1_only
        ),
    )
    with pytest.raises(ConstraintViolationError, match="not evaluable"):
        fmt.add_constraint("score_pos", "score >= 0")
    # the rival restore won: schema is v0's, constraint never landed
    assert "score" not in [f.name for f in fmt.table_schema().fields]
    assert fmt.constraints() == {}


def test_txnlog_remove_only_restore_refuses_constraint_on_dropped_column(
    spark, tmp_path
):
    """Even a restore with NO re-adds reverts the schema — an active
    constraint referencing a column absent at the target version would
    wedge every later write, so the restore must refuse up front."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 2))                                   # v0
    fmt.append(_batch(spark, 10, 2).withColumn("score", F.lit(1.0)))  # v1
    fmt.add_constraint("score_pos", "score >= 0")                     # v2
    with pytest.raises(ConstraintViolationError, match="score_pos"):
        fmt.restore(0)  # v0 schema has no 'score'; re_adds is empty
    # refused restore left everything intact
    assert fmt.read(spark).count() == 4
    assert fmt.constraints() == {"score_pos": "score >= 0"}


def test_clone_carries_stats_for_log_level_skipping(spark, tmp_path):
    """clone_to must carry each linked file's stats into the clone's
    synthetic first commit — otherwise read_where_ts on a clone opens
    every file (conservative but defeats the zero-copy-with-skipping
    story)."""
    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    for day, n0 in [(1, 0), (10, 100), (20, 200)]:
        fmt.append(_day_batch(spark, n0, 5, day))
    clone = fmt.clone_to(str(tmp_path / "c"))
    pruned = clone.read_where_ts(spark, ts_min_us=_us(9), ts_max_us=_us(11))
    assert pruned.count() == 5
    assert _files_read(pruned) == 1  # only the day-10 file opened
    assert _files_read(clone.read(spark)) == 3


def test_optimize_conflicts_with_interleaved_delete(spark, tmp_path):
    """A delete landing between optimize()'s live-file resolution and
    its commit must raise ConcurrentWriteError — not silently re-add
    the deleted key's rows from the already-resolved inputs."""
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(spark, path)
    for i in range(3):
        fmt.append(_batch(spark, 10 * i, 2, key="hot"))

    class Racing(TxnLogFormat):
        def _stage(self, df):
            # interleave a real delete on the key being compacted,
            # exactly inside optimize's resolve->commit window
            TxnLogFormat(self.spark, self.path).delete_partition("hot")
            return super()._stage(df)

    racing = Racing(spark, path)
    with pytest.raises(ConcurrentWriteError):
        racing.optimize(target_bytes=10**9, min_files=2)
    # the delete won: the key is gone and stays gone
    assert fmt.read(spark).filter(F.col("key") == "hot").count() == 0


def test_concurrent_txn_replays_land_exactly_once(spark, tmp_path):
    """Two concurrent appends carrying the SAME (app, version) — a
    zombie task and its retry — must land ONE copy of the batch: the
    loser detects the interleaved txn watermark at commit time and
    becomes a no-op (its staged files are dropped)."""
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(spark, path)
    fmt.append(_batch(spark, 0, 3), txn=("app", 1))

    batch = _batch(spark, 100, 4)

    class Racing(TxnLogFormat):
        def _stage(self, df):
            adds = super()._stage(df)
            if not getattr(self, "_raced", False):
                self._raced = True
                # the competing replay commits AFTER our watermark probe
                TxnLogFormat(self.spark, self.path).append(
                    batch, txn=("app", 2)
                )
            return adds

    Racing(spark, path).append(batch, txn=("app", 2))
    got = fmt.read(spark)
    assert got.count() == 3 + 4  # batch 2 exactly once
    assert fmt.last_txn_version("app") == 2
    # no orphaned data files: every parquet under data/ is in the snapshot
    import os

    live = set(fmt._snapshot())
    on_disk = {
        f"{d}/{f}"
        for d in os.listdir(fmt.data_path)
        if d.startswith("key=")
        for f in os.listdir(os.path.join(fmt.data_path, d))
        if f.endswith(".parquet")
    }
    assert on_disk == live


def test_vacuum_grace_period_protects_staged_files(spark, tmp_path):
    """vacuum must not unlink a freshly staged (uncommitted) data file:
    a concurrent writer has hard-linked it but not yet committed."""
    import os

    path = str(tmp_path / "t")
    fmt = TxnLogFormat(spark, path)
    fmt.append(_batch(spark, 0, 2, key="a"))
    # simulate a concurrent writer's staged-but-uncommitted file
    staged_dir = os.path.join(fmt.data_path, "key=b")
    os.makedirs(staged_dir, exist_ok=True)
    staged = os.path.join(staged_dir, "staged-uncommitted.parquet")
    with open(staged, "wb") as f:
        f.write(b"PAR1fake")
    assert fmt.vacuum() == []          # young file survives the default window
    assert os.path.exists(staged)
    # ADVICE r8: a grace-window no-op must be distinguishable from a
    # genuinely clean table — the skipped-young count says why [] came back
    assert fmt.last_vacuum_skipped_young == 1
    deleted = fmt.vacuum(min_age_sec=0)  # explicit no-writers vacuum reclaims
    assert "key=b/staged-uncommitted.parquet" in deleted
    assert fmt.last_vacuum_skipped_young == 0  # resets per call


def test_dynamic_overwrite_mode_is_scoped_not_global(spark, tmp_path):
    """ParquetPartitionedFormat must not leave session-global
    partitionOverwriteMode=dynamic behind — that would silently change
    overwrite semantics for every other writer in the session."""
    from starryskyqueryengine_spark.table_format import (
        ParquetPartitionedFormat,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    fmt = ParquetPartitionedFormat(spark, str(tmp_path / "p"))
    fmt.overwrite_partitions(_batch(spark, 0, 2, key="a"))
    assert spark.conf.get(key) == before
    # and the write itself was dynamic: a second overwrite naming only
    # key b keeps key a's files
    fmt.overwrite_partitions(_batch(spark, 10, 2, key="b"))
    keys = {r["key"] for r in fmt.read(spark).select("key").distinct().collect()}
    assert keys == {"a", "b"}


def test_escaped_partition_key_boundaries_both_formats(spark, tmp_path):
    """Review r10: data-side DataFrames carry RAW keys while the on-disk
    dir names and the txn log carry Spark's ESCAPED form ('a:b' ->
    'a%3Ab').  delete_partition / expected_keys / file_counts compared
    raw against escaped, so for any key containing " # % ' * / : = ? \\
    [ ] ^ { (or a control char) the U4 cascade delete silently no-opped,
    an emptied partition's old files survived an overwrite, and
    compaction never saw the fragmentation.  Exercise every boundary
    with an escapable key on BOTH formats."""
    from starryskyqueryengine_spark.table_format import (
        escape_partition_value,
        unescape_partition_value,
    )

    # helper round-trip incl. a literal '%' (only correct if '%' always
    # escapes) and the full punctuation set
    for raw in ("a:b", "a/b", "100%", 'q"x', "a[b]c", "plain", "w s",
                "t\tab", "a=b#c"):
        esc = escape_partition_value(raw)
        assert unescape_partition_value(esc) == raw
        assert "/" not in esc.replace("%2F", "") or raw == "plain"

    for name, mk in (
        ("parquet", lambda p: ParquetPartitionedFormat(spark, p)),
        ("txnlog", lambda p: TxnLogFormat(spark, p)),
    ):
        path = str(tmp_path / f"esc_{name}")
        fmt = mk(path)
        store = PostStore(spark, path, fmt=fmt)
        store.upsert(_batch(spark, 0, 4, key="a:b"))
        store.upsert(_batch(spark, 0, 3, key="plain"))

        # file_counts speaks RAW keys
        fc = fmt.file_counts()
        assert "a:b" in fc and "plain" in fc, (name, fc)

        # retention that empties the escapable key's partition
        # (expected_keys boundary): cap 2 keeps 2 of 4
        store.apply_retention({"a:b": 2})
        got = sorted(
            r["uri"] for r in store.read_key("a:b").collect()
        )
        assert len(got) == 2, (name, got)

        # U4 cascade delete (delete_partition boundary)
        store.delete_key("a:b")
        assert store.read_key("a:b").count() == 0, name
        assert store.read_key("plain").count() == 3, name
        assert "a:b" not in fmt.file_counts(), name


def test_vacuum_reclaims_crashed_staging_and_tmp_log_debris(spark, tmp_path):
    """Review r14: a writer that dies mid-_stage leaves a full
    _staging-<uuid> copy of its batch under the table root — outside
    data/, so the key= walk never reclaimed it (permanent disk leak per
    crash); a committer that dies before its os.link leaves
    .tmp-*.json in the log dir the same way.  vacuum() now reclaims
    both past the grace window and counts young ones as skipped."""
    import os
    import time

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    fmt.append(_batch(spark, 0, 4))

    old = time.time() - 3600
    dead_stage = tmp_path / "t" / "_staging-deadbeef"
    (dead_stage / "key=k1").mkdir(parents=True)
    (dead_stage / "key=k1" / "part-0.parquet").write_bytes(b"x" * 64)
    os.utime(dead_stage, (old, old))
    dead_tmp = tmp_path / "t" / "_txn_log" / ".tmp-deadbeef.json"
    dead_tmp.write_text("{}")
    os.utime(dead_tmp, (old, old))
    young_stage = tmp_path / "t" / "_staging-cafe01"
    young_stage.mkdir()

    fmt.vacuum(retain_versions=0, min_age_sec=600)
    assert not dead_stage.exists(), "aged crash staging dir must be reclaimed"
    assert not dead_tmp.exists(), "aged tmp log entry must be reclaimed"
    # the young dir is a possible LIVE writer: skipped, and the skip is
    # observable (not mistaken for a clean table)
    assert young_stage.exists()
    assert fmt.last_vacuum_skipped_young >= 1
    # data untouched
    assert fmt.read(spark).count() == 4


def test_stage_link_retries_when_target_dir_vanishes(spark, tmp_path, monkeypatch):
    """Review r14: vacuum() rmdir's a key dir it just emptied; if that
    lands between _stage's makedirs and its os.link, the link raised
    ENOENT and the whole write crashed.  The link now recreates the dir
    and retries once."""
    import os

    fmt = TxnLogFormat(spark, str(tmp_path / "t"))
    real_link = os.link
    state = {"fired": False}

    def racing_link(src, dst, **kw):
        if not state["fired"] and f"{os.sep}data{os.sep}key=" in dst:
            state["fired"] = True
            # simulate the concurrent rmdir: target dir vanishes
            os.rmdir(os.path.dirname(dst))
        return real_link(src, dst, **kw)

    monkeypatch.setattr(os, "link", racing_link)
    fmt.append(_batch(spark, 0, 3))
    assert state["fired"], "the race injection never triggered"
    assert fmt.read(spark).count() == 3
