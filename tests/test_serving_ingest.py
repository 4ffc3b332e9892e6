"""End-to-end: ingest materialization (reference reload()) + feed serving
(getFeedSkeleton), including ACL, pinned posts, catalog listing, init cap,
stats upsert and conditions CRUD cascade."""

from __future__ import annotations

import datetime as dt

import pytest

from starryskyqueryengine_spark.config import ConditionsRegistry, FeedCondition
from starryskyqueryengine_spark.ingest import IngestJob
from starryskyqueryengine_spark.serving import FeedServer, UnknownFeedError
from starryskyqueryengine_spark.store import PostStore
from tests.conftest import make_posts


def t(i):
    return dt.datetime(2024, 1, 1, 0, 0, i)


@pytest.fixture()
def world(spark, tmp_path):
    reg = ConditionsRegistry()
    reg.upsert(FeedCondition(key="sparkfeed", recordName="sparkfeed",
                             inputRegex="spark", limitCount=3))
    reg.upsert(FeedCondition(key="datafeed", recordName="datafeed",
                             inputRegex="data", pinnedPost=["at://pin/1"],
                             privateFeed=["did:friend"]))
    store = PostStore(spark, str(tmp_path / "posts"))
    job = IngestJob(spark, reg, store)
    server = FeedServer(spark, reg, store)
    return reg, store, job, server


def incoming(spark, n0=0, n=6):
    rows = []
    for i in range(n0, n0 + n):
        text = "spark rocks" if i % 2 == 0 else "data rocks"
        rows.append({"uri": f"at://u/p/{i}", "cid": f"c{i:03d}",
                     "text": text, "createdAt": t(i % 50)})
    return make_posts(spark, rows)


def test_ingest_materializes_both_feeds(spark, world):
    reg, store, job, server = world
    inserted = job.run_once(incoming(spark))
    assert inserted == {"sparkfeed": 3, "datafeed": 3}
    # A5 stats
    assert reg.get("sparkfeed").recordCount == 3
    assert reg.get("sparkfeed").lastExecTime > 0
    # idempotent: same batch adds nothing
    inserted2 = job.run_once(incoming(spark))
    assert inserted2 == {"sparkfeed": 0, "datafeed": 0}


def test_ingest_retention_cap(spark, world):
    reg, store, job, server = world
    job.run_once(incoming(spark, 0, 10))
    # sparkfeed limitCount=3: only the 3 newest survive
    assert store.read_key("sparkfeed").count() == 3


def test_serving_page_and_cursor(spark, world):
    reg, store, job, server = world
    job.run_once(incoming(spark, 0, 10))
    page1 = server.get_feed_skeleton("sparkfeed", limit=2)
    assert len(page1.feed) == 2 and page1.cursor
    page2 = server.get_feed_skeleton("sparkfeed", limit=2, cursor=page1.cursor)
    uris1 = {f["post"] for f in page1.feed}
    uris2 = {f["post"] for f in page2.feed}
    assert not uris1 & uris2  # no overlap across pages
    with pytest.raises(UnknownFeedError):
        server.get_feed_skeleton("nope")


def test_post_without_created_at_is_not_stored_and_feed_pages_to_end(spark, world):
    """A post with a NULL createdAt has no indexedAt to page by: ingest
    does not store it, so no page can end on it with a cursor the next
    request rejects, and the feed pages to the end."""
    reg, store, job, server = world
    rows = [{"uri": f"at://u/p/{i}", "cid": f"c{i:03d}", "text": "spark rocks",
             "createdAt": t(i)} for i in range(2)]
    rows.append({"uri": "at://u/p/undated", "cid": "c999", "text": "spark rocks",
                 "createdAt": None})
    assert job.run_once(make_posts(spark, rows))["sparkfeed"] == 2
    assert {r["uri"] for r in store.read_key("sparkfeed").collect()} == {
        "at://u/p/0", "at://u/p/1"}
    seen, cursor = [], None
    while True:
        page = server.get_feed_skeleton("sparkfeed", limit=1, cursor=cursor)
        if not page.feed:
            break
        seen += [f["post"] for f in page.feed]
        cursor = page.cursor
    assert seen == ["at://u/p/1", "at://u/p/0"]


def test_serving_acl_and_pinned(spark, world):
    reg, store, job, server = world
    job.run_once(incoming(spark))
    # P11: private feed requires allowlisted DID
    assert server.get_feed_skeleton("datafeed", requester_did="did:stranger").feed == []
    page = server.get_feed_skeleton("datafeed", requester_did="did:friend", limit=2)
    # T5: pinned first on first page only
    assert page.feed[0] == {"post": "at://pin/1"}
    page2 = server.get_feed_skeleton("datafeed", requester_did="did:friend",
                                     limit=2, cursor=page.cursor)
    assert {"post": "at://pin/1"} not in page2.feed


def test_describe_feed_generator(spark, world):
    reg, store, job, server = world
    out = server.describe_feed_generator("did:web:me")
    assert {"uri": "at://did:web:me/app.bsky.feed.generator/sparkfeed"} in out
    assert len(out) == 2


def test_init_cap_t6(spark, tmp_path):
    reg = ConditionsRegistry()
    reg.upsert(FeedCondition(key="k", recordName="k", inputRegex=".", initPost=2))
    store = PostStore(spark, str(tmp_path / "p2"))
    job = IngestJob(spark, reg, store)
    job.run_once(incoming(spark, 0, 8))
    # first materialization keeps only the 2 newest accepted
    assert store.read_key("k").count() == 2
    # replaying the same batch resurrects nothing: rows the init cap
    # truncated sit below the key's low-watermark (reference analog:
    # newest-first scan stops at the first stored URI,
    # src/subscription.ts:274-278)
    job.run_once(incoming(spark, 0, 8))
    assert store.read_key("k").count() == 2
    # delta rows newer than the low-watermark are not init-capped
    job.run_once(incoming(spark, 108, 4))  # ts t(8)..t(11) > floor t(6)
    assert store.read_key("k").count() == 6


def test_refresh_flag_consumed(spark, world):
    reg, store, job, server = world
    job.run_once(incoming(spark, 0, 10))
    reg.get("sparkfeed").refresh = 1
    n_before = store.read_key("sparkfeed").count()
    job.run_once(make_posts(spark, []))
    assert reg.get("sparkfeed").refresh == 0
    assert store.read_key("sparkfeed").count() == n_before - 1


def test_condition_delete_cascade(spark, world):
    reg, store, job, server = world
    job.run_once(incoming(spark))
    cond = reg.delete("sparkfeed")  # U3/U4
    assert cond is not None
    store.delete_key(cond.key)
    assert store.read_key("sparkfeed").count() == 0
    assert store.read_key("datafeed").count() > 0


def test_w2_no_resurrection_after_eviction(spark, tmp_path):
    """W2/W8: rows evicted by retention must not be re-inserted when the
    same batch arrives again (reference stops at the stored-URI watermark,
    src/subscription.ts:274-278)."""
    reg = ConditionsRegistry()
    reg.upsert(FeedCondition(key="k", recordName="k", inputRegex=".",
                             initPost=100, limitCount=3))
    store = PostStore(spark, str(tmp_path / "p3"))
    job = IngestJob(spark, reg, store)
    batch = incoming(spark, 0, 8)
    job.run_once(batch)
    assert store.read_key("k").count() == 3
    again = job.run_once(batch)
    assert again == {"k": 0}
    assert store.read_key("k").count() == 3
    # but a genuinely newer post still lands
    newer = make_posts(spark, [{"uri": "at://u/p/new", "cid": "zzz",
                                "text": "x", "createdAt": t(59)}])
    assert job.run_once(newer) == {"k": 1}


def test_ingest_with_profile_match_join(spark, tmp_path):
    """P10 end-to-end through IngestJob: a post whose text matches ONLY
    the profile term requires the author's profile to match; the profile
    arrives via the J1 broadcast lookup."""
    reg = ConditionsRegistry()
    reg.upsert(FeedCondition(key="pm", recordName="pm",
                             inputRegex="data|quantum",
                             profileMatch="quantum::physicist"))
    profiles = spark.createDataFrame(
        [("did:alice", "Alice", "quantum physicist in Berlin"),
         ("did:bob", "Bob", "cat photos enthusiast")],
        "did string, displayName string, description string",
    )
    store = PostStore(spark, str(tmp_path / "p"))
    job = IngestJob(spark, reg, store, profiles=profiles)
    batch = make_posts(spark, [
        {"uri": "at://u/p/1", "cid": "c1", "author_did": "did:alice",
         "text": "quantum stuff", "createdAt": t(1)},       # term-only + profile ok
        {"uri": "at://u/p/2", "cid": "c2", "author_did": "did:bob",
         "text": "quantum stuff", "createdAt": t(2)},       # term-only + profile bad
        {"uri": "at://u/p/3", "cid": "c3", "author_did": "did:bob",
         "text": "data and quantum", "createdAt": t(3)},    # not term-only -> kept
        {"uri": "at://u/p/4", "cid": "c4", "author_did": "did:bob",
         "text": "nothing relevant", "createdAt": t(4)},    # no match at all
    ])
    inserted = job.run_once(batch)
    assert inserted == {"pm": 2}
    uris = {r["uri"] for r in store.read_key("pm").collect()}
    assert uris == {"at://u/p/1", "at://u/p/3"}


def test_no_init_watermark_without_truncation(spark, tmp_path):
    """A key whose first run matched FEWER posts than initPost was never
    truncated — late rows older than its oldest stored post are genuinely
    new and must be accepted (the low-watermark exists only where a
    truncation point exists: init truncation or retention eviction)."""
    reg = ConditionsRegistry()
    reg.upsert(FeedCondition(key="k", recordName="k", inputRegex=".", initPost=10))
    store = PostStore(spark, str(tmp_path / "p3"))
    job = IngestJob(spark, reg, store)
    # first run: 3 accepted (< initPost) at t(5..7) -> no truncation
    job.run_once(incoming(spark, 105, 3))  # ts t(5), t(6), t(7)
    assert store.read_key("k").count() == 3
    assert reg.get("k").initTruncated is False
    # late rows OLDER than the stored min arrive next run -> accepted
    job.run_once(incoming(spark, 100, 2))  # ts t(0), t(1)
    assert store.read_key("k").count() == 5


def test_init_watermark_survives_registry_persistence(spark, tmp_path):
    """initTruncated must survive a registry save/load roundtrip — a
    restart that forgets the flag would re-admit rows below the
    truncation point."""
    reg = ConditionsRegistry()
    reg.upsert(FeedCondition(key="k", recordName="k", inputRegex=".", initPost=2))
    store = PostStore(spark, str(tmp_path / "p4"))
    job = IngestJob(spark, reg, store)
    job.run_once(incoming(spark, 0, 8))
    assert reg.get("k").initTruncated is True

    reg.save(spark, str(tmp_path / "conds"))
    reg2 = ConditionsRegistry.load(spark, str(tmp_path / "conds"))
    assert reg2.get("k").initTruncated is True

    # replay through the RESTORED registry still inserts nothing
    job2 = IngestJob(spark, reg2, store)
    assert job2.run_once(incoming(spark, 0, 8)) == {"k": 0}


def test_validate_canonicalizes_falsy_caps_and_rejects_bad_keys():
    """Review r9: the write gauntlet mirrors the reference's use-time
    falsy coalescing (record.initPost || 100, limitCount || 2000,
    src/subscription.ts:84-86) — an upserted initPost=0 used to make
    ingest's init-rank filter drop every post for the key forever, and
    limitCount=0 meant no-cap live but a 2000-row eviction after a
    save/load round trip.  Empty/None keys and newline-bearing
    recordNames fail fast instead of breaking downstream."""
    import pytest

    from starryskyqueryengine_spark.config import (
        ConditionValidationError,
        FeedCondition,
    )

    c = FeedCondition(key="k", recordName="f", initPost=0, limitCount=0)
    c.validate()
    assert (c.initPost, c.limitCount) == (100, 2000)

    with pytest.raises(ConditionValidationError, match="key"):
        FeedCondition(key="", recordName="f").validate()
    with pytest.raises(ConditionValidationError, match="key"):
        FeedCondition(key=None, recordName="f").validate()
    with pytest.raises(ConditionValidationError, match="recordName"):
        FeedCondition(key="k", recordName="feed-a\n").validate()


def test_restore_is_total_over_invalid_rows():
    """Review r9: one bad stored row (a regex the stricter Java-dialect
    gate rejects, or an Infinity numeric the reference's Number() keeps)
    must be skipped, not abort the rest of the S7 restore; a bad row
    whose key already exists is ignored without even validating."""
    from starryskyqueryengine_spark.config import ConditionsRegistry, FeedCondition

    reg = ConditionsRegistry()
    reg.upsert(FeedCondition(key="k1", recordName="existing"))
    reg.restore([
        {"key": "k1", "recordName": "BAD NAME"},       # present: ignored
        {"key": "k2", "recordName": "ok-feed", "refresh": "Infinity"},
        {"key": "k3", "recordName": "BAD NAME"},        # invalid: skipped
        {"key": "k4", "recordName": "also-ok"},         # still restored
    ])
    keys = {c.key for c in reg.all()}
    assert keys == {"k1", "k2", "k4"}
    assert reg.get("k1").recordName == "existing"
    assert reg.get("k2").refresh == 0  # Infinity coalesced to default


def test_registry_save_survives_crash_between_renames(spark, tmp_path):
    """Review r9: save() is write-new-then-swap; a crash window that
    leaves only the stepped-aside old copy must still load()."""
    import os
    import shutil

    from starryskyqueryengine_spark.config import ConditionsRegistry, FeedCondition

    path = str(tmp_path / "conds")
    reg = ConditionsRegistry()
    reg.upsert(FeedCondition(key="k", recordName="f", inputRegex="x"))
    reg.save(spark, path)
    # normal save: primary readable, no temp/old leftovers
    assert os.path.exists(path)
    assert not os.path.exists(path + "._tmp") and not os.path.exists(path + "._old")
    assert {c.key for c in ConditionsRegistry.load(spark, path).all()} == {"k"}

    # simulate the crash window: primary gone, old copy present
    os.rename(path, path + "._old")
    assert {c.key for c in ConditionsRegistry.load(spark, path).all()} == {"k"}

    shutil.rmtree(path + "._old")


def test_registry_resave_after_crash_never_orphans_sole_copy(spark, tmp_path, monkeypatch):
    """Review r14: a save() running after a between-renames crash (no
    primary; ._old is the SOLE readable copy) must not displace that
    copy before the fresh primary lands — a second crash right before
    the final rename used to leave nothing load()able."""
    import os
    import shutil

    from starryskyqueryengine_spark.config import ConditionsRegistry, FeedCondition

    path = str(tmp_path / "conds")
    reg = ConditionsRegistry()
    reg.upsert(FeedCondition(key="k", recordName="f", inputRegex="x"))
    reg.save(spark, path)
    # crash window from the previous save: primary gone, old copy present
    os.rename(path, path + "._old")

    # re-save, crashing at the final rename(tmp -> path): the sole copy
    # (._old) must still be present and loadable at every prior step
    real_rename = os.rename

    def crashing_rename(src, dst):
        if dst == path:
            assert os.path.exists(path + "._old"), (
                "sole readable copy was displaced before the new primary landed"
            )
            raise OSError("injected crash before the primary rename")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    reg2 = ConditionsRegistry()
    reg2.upsert(FeedCondition(key="k2", recordName="f2"))
    try:
        reg2.save(spark, path)
    except OSError:
        pass
    monkeypatch.undo()
    # recovery still sees the old registry
    assert {c.key for c in ConditionsRegistry.load(spark, path).all()} == {"k"}

    # and a clean re-save completes, swapping in the new state
    reg2.save(spark, path)
    assert {c.key for c in ConditionsRegistry.load(spark, path).all()} == {"k2"}
    assert not os.path.exists(path + "._tmp") and not os.path.exists(path + "._old")
    shutil.rmtree(path)


def test_refresh_below_minus_one_is_flag_reset_only(spark, tmp_path):
    """Review r9 / reference parity (src/subscription.ts:146-158): only
    refresh == -1 (wipe) and refresh > 0 (drop newest N) delete; any
    other negative just resets the flag — no partition rewrite."""
    from starryskyqueryengine_spark.ingest import IngestJob
    from starryskyqueryengine_spark.store import PostStore
    from tests.conftest import make_posts

    reg = ConditionsRegistry()
    reg.upsert(FeedCondition(key="k", recordName="f", inputRegex="spark"))
    store = PostStore(spark, str(tmp_path / "posts"))
    job = IngestJob(spark, reg, store)
    rows = [{"uri": f"at://u/{i}", "cid": f"c{i}", "text": "spark",
             "createdAt": dt.datetime(2024, 1, 1, 0, 0, i)} for i in range(4)]
    job.run_once(make_posts(spark, rows))
    assert store.read_key("k").count() == 4

    calls = []
    real = store.apply_refresh
    store.apply_refresh = lambda *a: calls.append(a) or real(*a)
    reg.get("k").refresh = -5
    job.run_once(make_posts(spark, []))
    assert calls == []                       # no rewrite issued
    assert reg.get("k").refresh == 0         # flag still reset
    assert store.read_key("k").count() == 4  # nothing deleted
