"""Feed serving: getFeedSkeleton / describeFeedGenerator equivalents.

Read path of the reference (``src/algos/starrysky.ts:10-84``,
``src/methods/feed-generation.ts``, ``src/methods/describe-generator.ts``):
conditions lookup by recordName -> private-feed ACL -> pinned prepend
(first page) -> keyset-predicate top-k -> skeleton projection + next
cursor.

A page within the key's newest ``feed_heads.H`` rows is answered on the
driver from the key's head, which every store commit keeps current: one
listing of the key's files, a digest and a small file read, no Spark
job. Any other request (no head, a head for an older listing, or a page
past the head) runs the keyed plan: a read that lists and scans only
that key's directory, with the schema given rather than inferred, and a
distributed top-k (TakeOrderedAndProject) collected as one Spark job.
``FeedServer.served`` counts which path answered each request.
"""

from __future__ import annotations

import threading
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .config import ConditionsRegistry
from .operators.topk import encode_cursor, keyset_page, prepend_pinned
from .store import PostStore

DEFAULT_PAGE_LIMIT = 50  # lexicon default (src/algos/starrysky.ts:56)
MAX_PAGE_LIMIT = 100


class UnknownFeedError(KeyError):
    pass


@dataclass
class FeedPage:
    feed: list[dict]  # [{'post': uri}, ...]
    cursor: str | None


class FeedServer:
    def __init__(self, spark: SparkSession, registry: ConditionsRegistry, store: PostStore):
        self.spark = spark
        self.registry = registry
        self.store = store
        # requests per data path: "head" (served from the key's head),
        # "no_head", "stale" (heads only for other listings) and
        # "past_head" (the head does not cover the page)
        self.served = Counter(dict.fromkeys(("head", "no_head", "stale", "past_head"), 0))
        self._served_lock = threading.Lock()

    def get_feed_skeleton(
        self,
        record_name: str,
        limit: int = DEFAULT_PAGE_LIMIT,
        cursor: str | None = None,
        requester_did: str | None = None,
    ) -> FeedPage:
        cond = self.registry.by_record_name(record_name)
        if cond is None:
            raise UnknownFeedError(record_name)  # src/algos/starrysky.ts:17-19
        limit = max(1, min(int(limit), MAX_PAGE_LIMIT))

        # P11 private-feed ACL (src/algos/starrysky.ts:26-40): per-request
        # allowlist check is driver-side — it gates the whole plan, it is
        # not a per-row predicate.
        if cond.privateFeed and (requester_did not in cond.privateFeed):
            return FeedPage(feed=[], cursor=None)

        path, head = self.store.head(cond.key)
        rows = head.page(limit, cursor) if head is not None else None
        if head is not None and rows is None:
            path = "past_head"
        with self._served_lock:
            self.served[path] += 1
        if rows is None:
            page_df = keyset_page(
                self.store.read(keys=[cond.key]), cond.key, limit, cursor
            )
            rows = [
                (r["us"], r["cid"], r["uri"])
                for r in page_df.select(
                    "uri", "cid", F.unix_micros("indexedAt").alias("us")
                ).collect()
            ]

        feed: list[dict] = []
        if cursor is None and cond.pinnedPost:  # T5 first page only
            feed.extend({"post": u} for u in cond.pinnedPost)
        feed.extend({"post": uri} for _, _, uri in rows)

        next_cursor = None
        if rows:
            us, cid, _ = rows[-1]  # src/algos/starrysky.ts:75-78
            next_cursor = encode_cursor(us, cid)
        return FeedPage(feed=feed, cursor=next_cursor)

    def get_feed_skeleton_authed(
        self,
        record_name: str,
        headers: dict,
        service_did: str,
        key_lookup,
        limit: int = DEFAULT_PAGE_LIMIT,
        cursor: str | None = None,
        verifier=None,
    ) -> FeedPage:
        """Full reference read path incl. auth (src/methods/feed-generation.ts):
        JWT verify -> requester DID -> ACL-gated skeleton. Auth is lazy in the
        reference too — only private feeds force it (src/algos/starrysky.ts:26-31);
        public feeds serve without a token.
        """
        from .auth import validate_auth

        cond = self.registry.by_record_name(record_name)
        if cond is None:
            raise UnknownFeedError(record_name)
        requester_did = None
        if cond.privateFeed:
            requester_did = validate_auth(
                headers, service_did, key_lookup, verifier=verifier
            )
        return self.get_feed_skeleton(
            record_name, limit=limit, cursor=cursor, requester_did=requester_did
        )

    def get_feed_skeleton_df(self, record_name: str, limit: int, cursor: str | None = None):
        """DataFrame-returning variant (for tests / distributed consumers):
        pinned ∪ page as one plan (U1)."""
        cond = self.registry.by_record_name(record_name)
        if cond is None:
            raise UnknownFeedError(record_name)
        page = keyset_page(
            self.store.read(keys=[cond.key]), cond.key, limit, cursor
        )
        pinned = cond.pinnedPost if cursor is None else []
        return prepend_pinned(self.spark, page, pinned)

    def describe_feed_generator(self, publisher_did: str) -> list[dict]:
        """S11 catalog listing (src/methods/describe-generator.ts:6-27):
        map each condition to its feed AT-URI.  Pure driver-side string
        formatting over the in-memory registry — the relational twin
        (catalog s11_feed_catalog) exercises the Spark projection;
        launching a createDataFrame+collect job per HTTP request paid
        ~100ms of JVM round trip for a microsecond dict walk."""
        return [
            {
                "uri": (
                    f"at://{publisher_did}/app.bsky.feed.generator/"
                    f"{c.recordName}"
                )
            }
            for c in self.registry.all()
        ]
