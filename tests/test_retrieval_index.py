"""Incremental BM25 index (functions/retrieval.py): after any sequence
of insert/update/delete batches, probing the incrementally-maintained
index must return BIT-IDENTICAL scores to an index rebuilt from the
final corpus — and compaction must change nothing but the physical
layout."""

import os

import pytest
from pyspark.sql import functions as F

from starryskyqueryengine_spark.functions.retrieval import (
    TERM_BUCKETS,
    Bm25IncrementalIndex,
)

TERMS = ("spark", "vector", "stream")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "_change string, doc_id long, text string"
    )


def _probe(idx):
    return sorted(tuple(r) for r in idx.probe(TERMS, top_k=50).collect())


def _rebuilt(spark, tmp_path, docs, tag):
    idx = Bm25IncrementalIndex(spark, str(tmp_path / f"rebuild-{tag}"))
    idx.build(docs)
    return _probe(idx)


CORPUS = [
    (1, "spark streams vectors fast"),
    (2, "the vector engine"),
    (3, "stream processing with spark and spark again"),
    (4, "nothing relevant here"),
    (5, "vector vector vector"),
]


def test_incremental_equals_rebuild(spark, tmp_path):
    idx = Bm25IncrementalIndex(spark, str(tmp_path / "idx"))
    idx.build(_docs(spark, CORPUS[:3]))

    # insert batch
    idx.apply_changes(
        _changes(spark, [("insert", 4, CORPUS[3][1]), ("insert", 5, CORPUS[4][1])])
    )
    want = _rebuilt(spark, tmp_path, _docs(spark, CORPUS), "a")
    assert _probe(idx) == want

    # update = delete+insert of the same doc in ONE batch
    new2 = "an updated spark document about streams"
    idx.apply_changes(
        _changes(spark, [("delete", 2, None), ("insert", 2, new2)])
    )
    corpus2 = [CORPUS[0], (2, new2)] + CORPUS[2:]
    want = _rebuilt(spark, tmp_path, _docs(spark, corpus2), "b")
    assert _probe(idx) == want

    # pure delete
    idx.apply_changes(_changes(spark, [("delete", 3, None)]))
    corpus3 = [c for c in corpus2 if c[0] != 3]
    want = _rebuilt(spark, tmp_path, _docs(spark, corpus3), "c")
    assert _probe(idx) == want

    # avgdl bookkeeping stayed integer-exact
    st = idx._stats()
    total = sum(len(t.split()) for _, t in corpus3)
    # tokens = whitespace words here because fixture texts are [a-z ]
    assert st["n_docs"] == len(corpus3)
    assert st["total_dl"] == total


def test_build_over_uncommitted_build_does_not_double_postings(
    spark, tmp_path
):
    """bm25_indexed_search builds whenever stats.json is absent, so a
    build that died before its stats commit is followed by another
    build into the same directory: it must replace the orphaned
    segments, not append a second copy of every posting."""
    idx = Bm25IncrementalIndex(spark, str(tmp_path / "idx"))
    idx.build(_docs(spark, CORPUS))
    os.remove(os.path.join(str(tmp_path / "idx"), "stats.json"))
    idx.build(_docs(spark, CORPUS))
    assert _probe(idx) == _rebuilt(spark, tmp_path, _docs(spark, CORPUS), "x")


def test_compact_preserves_results_and_clears_tombstones(spark, tmp_path):
    idx = Bm25IncrementalIndex(spark, str(tmp_path / "idx"))
    idx.build(_docs(spark, CORPUS))
    idx.apply_changes(_changes(spark, [("delete", 4, None)]))
    idx.apply_changes(
        _changes(spark, [("delete", 5, None), ("insert", 5, "spark stream")])
    )
    before = _probe(idx)
    assert idx._tombstones() is not None

    idx.compact()
    assert idx._tombstones() is None
    assert _probe(idx) == before

    # maintenance keeps composing after compaction
    idx.apply_changes(_changes(spark, [("insert", 9, "vector spark")]))
    corpus = [CORPUS[0], CORPUS[1], CORPUS[2], (5, "spark stream"),
              (9, "vector spark")]
    want = _rebuilt(spark, tmp_path, _docs(spark, corpus), "d")
    assert _probe(idx) == want


def test_probe_prunes_buckets(spark, tmp_path):
    """The maintained index keeps the pruned-scan plan: the postings
    read must touch only the query terms' hash buckets."""
    idx = Bm25IncrementalIndex(spark, str(tmp_path / "idx"))
    idx.build(_docs(spark, CORPUS))
    qt = spark.createDataFrame([(t,) for t in TERMS], "term string")
    buckets = {
        r["b"]
        for r in qt.select(
            (F.abs(F.hash("term")) % TERM_BUCKETS).alias("b")
        ).collect()
    }
    scan = (
        spark.read.parquet(os.path.join(str(tmp_path / "idx"), "postings"))
        .filter(F.col("term_bucket").isin(sorted(buckets)))
    )
    # inputFiles() reports the pre-pruning listing; the pruning claim
    # lives in the plan's PartitionFilters (the bm25_indexed_search plan
    # test pins the same)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [term_bucket" in plan
    assert " IN (" in plan


def test_probe_dedupes_repeated_query_terms(spark, tmp_path):
    """BM25 is defined over the query term SET: a repeated term must not
    double its df (wrong idf) or double-count its score contribution."""
    idx = Bm25IncrementalIndex(spark, str(tmp_path / "idx"))
    idx.build(_docs(spark, CORPUS))
    once = sorted(tuple(r) for r in idx.probe(["spark", "vector"]).collect())
    twice = sorted(
        tuple(r)
        for r in idx.probe(["spark", "spark", "vector", "spark"]).collect()
    )
    assert once == twice and len(once) > 0


def test_compact_crash_window_with_stale_tombstones_is_harmless(spark, tmp_path):
    """compact() folds live rows at gen = the stats tip (not 0) exactly
    so a crash AFTER the data-dir swaps but BEFORE the tombstone clear
    leaves a correct index: re-materialize that state by re-appending
    the pre-compact tombstones over the folded files — probes must
    still match, not silently drop every tombstoned doc."""
    idx = Bm25IncrementalIndex(spark, str(tmp_path / "idx"))
    idx.build(_docs(spark, CORPUS))
    # update doc 5 (tombstone gen 1 + fresh rows gen 1), delete doc 4
    idx.apply_changes(
        _changes(spark, [("delete", 5, None), ("insert", 5, "spark stream")])
    )
    idx.apply_changes(_changes(spark, [("delete", 4, None)]))
    before = _probe(idx)
    stale = idx._tombstones().collect()

    idx.compact()
    # simulate the crash window: stale tombstones back over folded rows
    spark.createDataFrame(stale).write.mode("append").parquet(
        os.path.join(str(tmp_path / "idx"), "tombstones")
    )
    assert _probe(idx) == before
    # folded rows carry the tip gen, the invariant the window relies on
    gens = (
        spark.read.parquet(os.path.join(str(tmp_path / "idx"), "postings"))
        .select("gen").distinct().collect()
    )
    assert {r["gen"] for r in gens} == {2}


def test_committed_replay_is_exactly_once(spark, tmp_path):
    """Review r13: a restarted CDC feed whose checkpoint predates its
    sink commit re-fires its last batch; without the txn marker the
    replay re-appended every posting (duplicate live rows at a newer
    gen -> inflated tf/df -> wrong scores).  txn=(app, ver) mirrors
    TxnLogFormat.append(txn=...): a committed version replays as a
    no-op, data and stats untouched."""
    idx = Bm25IncrementalIndex(spark, str(tmp_path / "idx"))
    idx.build(_docs(spark, CORPUS[:3]))

    batch = _changes(spark, [("insert", 4, CORPUS[3][1]),
                             ("delete", 2, None)])
    out1 = idx.apply_changes(batch, txn=("cdc", 7))
    assert out1 == {"gen": 1, "inserted": 1, "deleted": 1}
    want = _probe(idx)
    st1 = idx._stats()

    # exact replay: same app, same version -> no-op
    out2 = idx.apply_changes(batch, txn=("cdc", 7))
    assert out2["replayed"] and out2["inserted"] == 0
    assert _probe(idx) == want
    assert idx._stats() == st1

    # stale version (lower than recorded) also replays as a no-op
    out3 = idx.apply_changes(batch, txn=("cdc", 3))
    assert out3["replayed"]
    assert _probe(idx) == want

    # a NEWER version applies; an unrelated app has its own sequence
    out4 = idx.apply_changes(
        _changes(spark, [("insert", 6, "fresh spark doc")]), txn=("cdc", 8)
    )
    assert out4 == {"gen": 2, "inserted": 1, "deleted": 0}
    out5 = idx.apply_changes(
        _changes(spark, [("insert", 7, "other feed doc")]), txn=("other", 1)
    )
    assert out5 == {"gen": 3, "inserted": 1, "deleted": 0}
    assert idx._stats()["txns"] == {"cdc": 8, "other": 1}


def test_bm25_index_cache_refuses_foreign_ownership(monkeypatch, tmp_path):
    """Review r13: the persisted BM25 index cache gets the same per-UID
    ownership gate as the zorder layout cache (r8) — a pre-planted dir
    at the predictable path, owned by another uid, must be refused, not
    trusted as an index."""
    import os

    import pytest as _pytest

    from starryskyqueryengine_spark.sources.fixtures import artifact_dir

    def bm25_path():
        return artifact_dir("bm25inc", "/nonexistent-sf", "documents")

    real_uid = os.getuid()
    fake_uid = real_uid + 1
    monkeypatch.setattr(os, "getuid", lambda: fake_uid)
    # compute the fake uid's path, then pre-plant it owned by OUR uid
    try:
        planted = bm25_path()
    except PermissionError:
        planted = None
    if planted is None or os.path.exists(planted):
        _pytest.skip("cannot stage a clean planted path on this host")
    os.makedirs(planted)
    try:
        with _pytest.raises(PermissionError, match="refusing"):
            bm25_path()
    finally:
        os.rmdir(planted)
    # and the happy path: our own uid's dir is accepted
    monkeypatch.setattr(os, "getuid", lambda: real_uid)
    p = bm25_path()
    assert os.path.basename(p).startswith(f"starrysky_bm25inc_u{real_uid}_")


def test_bm25_ownership_gate_has_no_toctou_window(monkeypatch, tmp_path):
    """ADVICE r13: the exists()+stat() pair raised an unhandled
    FileNotFoundError if the dir vanished between the two calls, and a
    dir planted after path computation was never re-checked.  The gate
    now stats directly (missing dir = fine, that's the build-fresh
    case) and bm25_indexed_search re-runs it at the trust point."""
    import os

    import pytest as _pytest

    from starryskyqueryengine_spark.sources.fixtures import assert_owned

    # missing path: plain return, no exception (the old code's window)
    assert_owned(str(tmp_path / "never-created"))

    # a dir that appears foreign-owned is refused wherever the gate runs
    d = tmp_path / "planted"
    d.mkdir()
    real_stat = os.stat

    class _ForeignStat:
        def __init__(self, st):
            self._st = st
            self.st_uid = (os.getuid() + 1) if hasattr(os, "getuid") else 1

        def __getattr__(self, k):
            return getattr(self._st, k)

    monkeypatch.setattr(
        os, "stat",
        lambda p, *a, **k: _ForeignStat(real_stat(p, *a, **k))
        if str(p) == str(d) else real_stat(p, *a, **k),
    )
    with _pytest.raises(PermissionError, match="refusing"):
        assert_owned(str(d))


def test_bm25_indexed_search_regates_at_trust_point(monkeypatch, tmp_path):
    """The ownership check must run where stats.json existence is
    TRUSTED (bm25_indexed_search), not only at path computation — a dir
    planted between the two would otherwise have its postings served."""
    import starryskyqueryengine_spark.catalog_text as ct

    class _Index:
        def __init__(self, spark, path):
            pass

        def build(self, docs):
            raise AssertionError("a complete index must be served, not rebuilt")

        def probe(self, terms, top_k):
            return ("probe", tuple(terms), top_k)

    calls = []
    monkeypatch.setattr(ct, "assert_owned", lambda p: calls.append(p))
    monkeypatch.setattr(ct, "artifact_dir", lambda *a: str(tmp_path / "idx"))
    monkeypatch.setattr(ct, "Bm25IncrementalIndex", _Index)
    # plant a "complete" index so the query serves it at the trust point
    (tmp_path / "idx").mkdir()
    (tmp_path / "idx" / "stats.json").write_text("{}")
    out = ct.bm25_indexed_search(None, "/nonexistent-sf")
    assert out == ("probe", ct.BM25_QUERY_TERMS, ct.BM25_TOP_K)
    assert calls == [str(tmp_path / "idx")]


def test_repair_restores_exact_scores_after_mid_apply_crash(
    spark, tmp_path, monkeypatch
):
    """r14 (verdict ask #7): the documented recovery for a crash between
    the segment appends and the stats-sidecar commit becomes one call.
    Kill apply_changes right before the sidecar write — postings, dl
    AND a tombstone from the uncommitted gen are all on disk — then
    repair(source_batch) must drop the orphaned generation and re-apply
    it, yielding scores bit-identical to a from-scratch rebuild."""
    idx = Bm25IncrementalIndex(spark, str(tmp_path / "idx"))
    idx.build(_docs(spark, CORPUS[:4]))

    new2 = "an updated spark document about vector streams"
    batch = [("delete", 2, None), ("insert", 2, new2),
             ("insert", 5, CORPUS[4][1])]

    real_write = idx._write_stats

    def _boom(st):
        raise RuntimeError("injected crash before sidecar commit")

    monkeypatch.setattr(idx, "_write_stats", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        idx.apply_changes(_changes(spark, batch), txn=("cdc", 7))
    monkeypatch.setattr(idx, "_write_stats", real_write)

    # uncommitted gen-1 rows are on disk in all three tables; naively
    # re-applying would double them (the r13-documented failure)
    assert idx._stats()["gen"] == 0
    for name in ("postings", "dl", "tombstones"):
        df = spark.read.parquet(str(tmp_path / "idx" / name))
        assert df.filter(F.col("gen") > 0).count() > 0, name

    out = idx.repair(_changes(spark, batch), txn=("cdc", 7))
    assert out["stats_gen"] == 0
    assert all(n > 0 for n in out["dropped"].values()), out
    assert out["reapplied"] == {"gen": 1, "inserted": 2, "deleted": 1}

    corpus = [CORPUS[0], (2, new2), CORPUS[2], CORPUS[3], CORPUS[4]]
    assert _probe(idx) == _rebuilt(spark, tmp_path, _docs(spark, corpus), "r")

    # the reapply carried the txn marker, so repairing again (e.g. a
    # retried recovery job) is a committed-replay no-op
    out2 = idx.repair(_changes(spark, batch), txn=("cdc", 7))
    assert out2["dropped"] == {"postings": 0, "dl": 0, "tombstones": 0}
    assert out2["reapplied"]["replayed"] is True
    assert _probe(idx) == _rebuilt(spark, tmp_path, _docs(spark, corpus), "r2")


def test_repair_on_healthy_index_is_a_noop(spark, tmp_path):
    idx = Bm25IncrementalIndex(spark, str(tmp_path / "idx2"))
    idx.build(_docs(spark, CORPUS))
    before = _probe(idx)
    out = idx.repair()
    assert out["dropped"] == {"postings": 0, "dl": 0, "tombstones": 0}
    assert out["reapplied"] is None
    assert _probe(idx) == before
