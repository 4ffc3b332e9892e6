"""Seeded inputs for the feed workloads and the pure-Python models that
say what the engine must answer for them. Nothing here imports Spark:
the same seed gives the same inputs, and the models are the reference
the outputs are checked against."""

from __future__ import annotations

import datetime as dt
import random
import re

BASE_TIME = dt.datetime(2024, 1, 1)
PAGE = 50  # serving.DEFAULT_PAGE_LIMIT
READER_DID = "did:plc:reader"

# words posts are made of; condition regexes pick from the first half
VOCAB = (
    "spark hadoop rust python cat kitten dog music art news game spoiler "
    "food recipe travel photo science book movie sport football code "
    "the a of and to in is it that with on for was as at by this from "
    "sun rain city night coffee tea bird tree river sea road train bus "
    "day week blue red green quiet loud small big fast slow"
).split()

# 16 feed conditions over every predicate leg the compiled path has:
# include and exclude regex, lang, image-only and text-only, reply and
# label filters, alt-text search. Plain words and alternations only, on
# which the JS regex dialect, Java and Python ``re`` agree.
INGEST_CONDITIONS = [
    dict(inputRegex="spark|hadoop", lang="en"),
    dict(inputRegex="rust", invertRegex="python"),
    dict(inputRegex="cat|kitten", imageOnly="imageOnly"),
    dict(inputRegex="dog", replyDisable=True),
    dict(inputRegex="music", labelDisable=True),
    dict(inputRegex="art", lang="ja"),
    dict(inputRegex="news", imageOnly="textOnly"),
    dict(inputRegex="game", invertRegex="spoiler"),
    dict(inputRegex="food|recipe", includeAltText=True),
    dict(inputRegex="travel", lang="en", replyDisable=True),
    dict(inputRegex="photo", imageOnly="imageOnly", includeAltText=True),
    dict(inputRegex="science", labelDisable=True, replyDisable=True),
    dict(inputRegex="book", invertRegex="spoiler"),
    dict(inputRegex="movie", lang="es"),
    dict(inputRegex="sport|football"),
    dict(inputRegex="code", imageOnly="textOnly", labelDisable=True),
]
# retention caps: the small ones are rewritten by retention on every
# tick, the large ones only ever append
INGEST_CAPS = [150, 100_000, 300, 100_000, 150, 100_000, 300, 100_000,
               150, 100_000, 300, 100_000, 150, 100_000, 300, 100_000]


def ingest_conditions():
    """(key, recordName, kwargs) of the 16 ingest feeds."""
    return [
        (f"ik{i:02d}", f"ingest-{i:02d}", {**c, "limitCount": INGEST_CAPS[i]})
        for i, c in enumerate(INGEST_CONDITIONS)
    ]


def _us(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _words(rng, n):
    return " ".join(rng.choice(VOCAB) for _ in range(n))


# -- feed_serve --------------------------------------------------------------


def serve_feeds(seed, n_keys=64, cap=2000):
    """Feed definitions and stored posts for the read-only workload.

    Returns ``(feeds, rows)``: ``feeds`` is a list of dicts (key,
    recordName, pinned, private, weight) and ``rows`` the stored posts
    as (uri, key, cid, indexedAt) tuples. Feed sizes vary up to ``cap``;
    popularity is Zipf-skewed and independent of size."""
    rng = random.Random(f"serve-feeds-{seed}")
    ranks = list(range(1, n_keys + 1))
    rng.shuffle(ranks)
    feeds, rows = [], []
    span_us = 30 * 86_400 * 10**6
    base = _us(BASE_TIME)
    for i in range(n_keys):
        key = f"k{i:02d}"
        n = cap if rng.random() < 0.4 else rng.randint(120, cap)
        feeds.append(
            dict(
                key=key,
                recordName=f"feed-{i:02d}",
                pinned=[f"at://did:plc:pin/app.bsky.feed.post/p{i}"] if i % 16 == 3 else [],
                private=[READER_DID] if i % 16 == 7 else [],
                weight=1.0 / ranks[i] ** 1.1,
            )
        )
        for j in range(n):
            rows.append(
                (
                    f"at://did:plc:a{rng.randrange(5000)}/app.bsky.feed.post/{key}x{j}",
                    key,
                    f"b{rng.getrandbits(60):015x}",
                    base + rng.randrange(span_us),
                )
            )
    return feeds, rows


def sort_newest(rows):
    """(uri, cid, us) rows newest first, as the keyset top-k orders them."""
    return sorted(rows, key=lambda r: (r[2], r[1]), reverse=True)


def expected_page(newest_first, cursor=None, pinned=(), limit=PAGE):
    """The getFeedSkeleton body for one page of a feed whose posts are
    ``newest_first`` (uri, cid, us) tuples."""
    rows = newest_first
    if cursor is not None:
        us_s, _, cid = cursor.partition("::")
        bound = (int(us_s), cid)
        rows = [r for r in rows if (r[2], r[1]) < bound]
    rows = rows[:limit]
    feed = [{"post": u} for u in (pinned if cursor is None else ())]
    feed += [{"post": r[0]} for r in rows]
    body = {"feed": feed}
    if rows:
        body["cursor"] = f"{rows[-1][2]}::{rows[-1][1]}"
    return body


def request_mix(seed, feeds, by_key, n):
    """``n`` getFeedSkeleton requests: Zipf-popular feeds, about 70%
    first pages and 30% follow-on pages at depth 1 to 5. Each request is
    (recordName, cursor or None, expected body)."""
    rng = random.Random(f"serve-mix-{seed}")
    weights = [f["weight"] for f in feeds]
    pages = {}  # (key, depth) -> (cursor, body)

    def page(f, depth):
        if (f["key"], depth) not in pages:
            cursor = page(f, depth - 1)[1]["cursor"] if depth else None
            body = expected_page(by_key[f["key"]], cursor, f["pinned"])
            pages[f["key"], depth] = (cursor, body)
        return pages[f["key"], depth]

    out = []
    for _ in range(n):
        f = rng.choices(feeds, weights)[0]
        depth = 0 if rng.random() < 0.7 else rng.randint(1, 5)
        depth = min(depth, (len(by_key[f["key"]]) - 1) // PAGE)
        cursor, body = page(f, depth)
        out.append((f["recordName"], cursor, body))
    return out


# -- feed_ingest -------------------------------------------------------------


def ingest_batch(seed, tick, size, history):
    """Incoming posts of one tick as dicts shaped like
    ``schemas.INGEST_POST_SCHEMA``. About 10% are exact re-deliveries of
    posts from earlier ticks (taken from ``history``, which this call
    extends) and about 10% are late: created hours to days before the
    tick's window."""
    rng = random.Random(f"ingest-{seed}-{tick}")
    t0 = BASE_TIME + dt.timedelta(minutes=tick)
    out = []
    for j in range(size):
        r = rng.random()
        if r < 0.1 and history:
            out.append(history[rng.randrange(len(history))])
            continue
        if r < 0.2:
            late_us = rng.randrange(3600 * 10**6, 2 * 86_400 * 10**6)
            created = t0 - dt.timedelta(microseconds=late_us)
        else:
            created = t0 + dt.timedelta(microseconds=rng.randrange(60 * 10**6))
        u = rng.random()
        images = None
        if u < 0.25:
            images = [
                {
                    "alt": _words(rng, rng.randint(0, 4)),
                    "aspectRatio": {"height": 600, "width": 800},
                    "fullsize": "https://cdn.example/f.jpg",
                    "thumb": "https://cdn.example/t.jpg",
                }
                for _ in range(rng.randint(1, 2))
            ]
        elif u < 0.3:
            images = []
        lang = rng.random()
        langs = (["en"] if lang < 0.5 else ["ja"] if lang < 0.7
                 else ["es"] if lang < 0.85 else ["en", "es"] if lang < 0.9 else None)
        reply = (f"at://did:plc:r/app.bsky.feed.post/{rng.getrandbits(40):x}"
                 if rng.random() < 0.2 else None)
        out.append(
            dict(
                uri=f"at://did:plc:u{rng.randrange(2000)}/app.bsky.feed.post/t{tick}x{j}",
                cid=f"c{rng.getrandbits(60):015x}",
                author_did=f"did:plc:u{rng.randrange(2000)}",
                text=_words(rng, rng.randint(5, 15)),
                langs=langs,
                tags=None,
                replyParent=reply,
                replyRoot=reply,
                images=images,
                labels=["nsfw"] if rng.random() < 0.1 else [],
                createdAt=created,
                props=None,
            )
        )
    history.extend(p for p in out if f"/t{tick}x" in p["uri"])
    return out


def accepts(cond, post):
    """Python twin of ``predicate.compile_condition`` for the legs the
    ingest conditions use."""
    text = post["text"] or ""
    images = post["images"] or []
    if cond.get("includeAltText") and images:
        text = text + "\n" + "\n".join(i["alt"] or "" for i in images)
    if cond.get("inputRegex") and not re.search(cond["inputRegex"], text, re.I):
        return False
    if cond.get("invertRegex") and re.search(cond["invertRegex"], text, re.I):
        return False
    only = cond.get("imageOnly", "")
    if only == "imageOnly" and post["images"] is None:
        return False
    if only == "textOnly" and images:
        return False
    if cond.get("labelDisable") and post["labels"]:
        return False
    if cond.get("replyDisable") and post["replyParent"] is not None:
        return False
    if cond.get("lang") and cond["lang"] not in (post["langs"] or []):
        return False
    return True


class IngestModel:
    """Pure-Python replay of ``IngestJob.run_once`` over the ingest
    conditions: accept, low-watermark floors, first-run init truncation
    (``initPost``), PK dedup-upsert and per-key retention caps.

    ``store`` maps key -> {uri: (cid, us)}."""

    INIT_POST = 100  # FeedCondition default

    def __init__(self, conditions):
        self.conds = conditions  # (key, recordName, kwargs)
        self.store = {k: {} for k, _, _ in conditions}
        self.truncated = {k: False for k, _, _ in conditions}
        self.accepted = []  # (post, key) pairs the predicates accepted, per tick
        self.rewritten = []  # keys over their cap, per tick

    def tick(self, batch):
        """Apply one batch; returns {key: [(uri, cid, us) inserted]}."""
        pairs = []
        for p in batch:
            us = _us(p["createdAt"])
            for key, _, c in self.conds:
                if accepts(c, p):
                    pairs.append((key, p["uri"], p["cid"], us))
        floors = {}
        for key, _, c in self.conds:
            stored = self.store[key]
            if stored and (self.truncated[key] or len(stored) >= c["limitCount"]):
                floors[key] = min(v[1] for v in stored.values())
        self.accepted.append(len(pairs))
        pairs = [r for r in pairs if r[0] not in floors or r[3] > floors[r[0]]]
        uniq = {}
        for key, uri, cid, us in pairs:
            uniq.setdefault((key, uri), (cid, us))
        fresh = {k for k, _, _ in self.conds if not self.store[k]}
        by_key = {}
        for (key, uri), (cid, us) in uniq.items():
            by_key.setdefault(key, []).append((uri, cid, us))
        inserted = {}
        over = 0
        for key, _, c in self.conds:
            rows = by_key.get(key, [])
            if key in fresh:
                if len(rows) > self.INIT_POST:
                    self.truncated[key] = True
                rows = sort_newest(rows)[: self.INIT_POST]
            stored = self.store[key]
            new = [r for r in rows if r[0] not in stored]
            for uri, cid, us in new:
                stored[uri] = (cid, us)
            if new:
                inserted[key] = new
            cap = c["limitCount"]
            if len(stored) > cap:
                over += 1
                keep = sort_newest([(u, v[0], v[1]) for u, v in stored.items()])[:cap]
                self.store[key] = {u: (cid, us) for u, cid, us in keep}
        self.rewritten.append(over)
        return inserted

    def newest_first(self, key):
        return sort_newest([(u, v[0], v[1]) for u, v in self.store[key].items()])

    def rows(self):
        """The whole store as a set of (uri, key, cid, us)."""
        return {
            (u, k, v[0], v[1]) for k, s in self.store.items() for u, v in s.items()
        }
