"""Batch ingest job: the reference's ``reload()`` re-expressed as ONE
declarative Spark plan.

Reference flow (``src/subscription.ts:117-407``): per condition, page
through search results and run a row-at-a-time filter chain, then upsert /
evict. Here the incoming batch is evaluated against ALL conditions in a
single scan (predicate.compile_all_conditions): each row is tagged with
the array of feed keys whose predicate accepts it, exploded to (row, key)
pairs, PK-anti-joined against the store, appended, then retention runs per
key. At 100 TB this is the difference between N full passes and one.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .config import ConditionsRegistry
from .operators.dedup import dedup_within_batch
from .operators.lookup import with_author_profiles
from .predicate import (
    compile_all_conditions,
    datadriven_supported,
    evaluate_conditions_datadriven,
)
from .store import PostStore

#: feed count at which the O(1)-plan data-driven evaluation overtakes the
#: compiled per-feed expression form.  The compiled plan (and its
#: generated code) grows linearly with feed count; measured crossover is
#: ~32 feeds (COVERAGE.md), far below the analysis-time cliff at 10k+.
DATADRIVEN_FEED_THRESHOLD = 32


class IngestJob:
    def __init__(
        self,
        spark: SparkSession,
        registry: ConditionsRegistry,
        store: PostStore,
        profiles: DataFrame | None = None,
    ):
        self.spark = spark
        self.registry = registry
        self.store = store
        # dedup the STATIC profiles dim ONCE at construction, not per
        # tick: with_author_profiles dedups defensively, so without this
        # every run_once would re-shuffle+sort a dim that never changes
        # between ticks.  The lazy localCheckpoint materializes the
        # deduped dim on first use and every later tick re-broadcasts
        # from the checkpoint blocks (freed at driver GC of the job).
        if profiles is not None:
            profiles = dedup_within_batch(profiles, ["did"]).localCheckpoint(
                eager=False
            )
        self.profiles = profiles

    def accepted_pairs(self, incoming: DataFrame) -> DataFrame:
        """One (post, key) row per condition that accepts the post.

        PLAN AUTO-SELECTION by feed count: at < DATADRIVEN_FEED_THRESHOLD
        feeds the compiled form wins (one inlined, codegen'd expression
        per feed); at or above it — when every condition fits the
        include/exclude/lang subset — the data-driven form wins (posts x
        broadcast(conditions), O(1) plan size regardless of feed count).
        Both forms return identical (post, key) pairs; the flagship
        oracle pins the 3-feed compiled path and
        ``multifeed_datadriven``'s oracle pins the data-driven one."""
        conds = self.registry.all()
        if len(conds) >= DATADRIVEN_FEED_THRESHOLD and datadriven_supported(conds):
            return evaluate_conditions_datadriven(incoming, conds)
        needs_profiles = any(c.profileMatch for c in conds)
        df = incoming
        if needs_profiles:
            if self.profiles is not None:
                df = with_author_profiles(df, self.profiles)  # J1 broadcast
            elif "author_profile_text" not in df.columns:
                df = df.withColumn("author_profile_text", F.lit(None).cast("string"))
        tagged = df.withColumn("matched_keys", compile_all_conditions(conds))
        # no explicit filter before the explode: non-outer explode drops
        # empty arrays itself, and Catalyst's InferFiltersFromGenerate
        # adds the size() > 0 pruning filter on its own (codegen CSE
        # shares the array expression between the two)
        return tagged.withColumn("key", F.explode("matched_keys")).drop("matched_keys")

    def run_once(self, incoming: DataFrame) -> dict[str, int]:
        """One micro-batch / cron tick (W1). Returns inserted-per-key."""
        t0 = time.time()

        # T4 refresh handling first (src/subscription.ts:143-169): the
        # reference deletes ONLY for refresh == -1 (all) or > 0 (newest
        # N); any other negative falls through both branches and just
        # resets the flag — acting on it here rewrote the whole key
        # partition with identical contents (wasted I/O, no deletions)
        for cond in self.registry.all():
            if cond.refresh:
                if cond.refresh == -1 or cond.refresh > 0:
                    self.store.apply_refresh(cond.key, cond.refresh)
                cond.refresh = 0  # reset flag (src/subscription.ts:161-168)

        pairs = self.accepted_pairs(incoming)
        posts = pairs.select(
            "uri",
            "key",
            "cid",
            "replyParent",
            "replyRoot",
            # indexedAt <- record createdAt: event time, not arrival time
            # (src/subscription.ts:360)
            F.col("createdAt").alias("indexedAt"),
        )

        # W2/W8 high-watermark: the reference scans newest-first and stops
        # at the first already-stored URI, so posts older than the point
        # where a key's history started — init-mode truncation (T6) or
        # retention eviction (T3) — never re-enter
        # (src/subscription.ts:274-278). Spark-first improvement: accept
        # late rows via the anti-join, but keep the low-watermark where a
        # truncation point actually exists: keys whose FIRST run was
        # init-truncated (cond.initTruncated) and keys at their retention
        # cap drop incoming rows at/below the oldest retained indexedAt.
        # A key that merely grew past initPost organically was never
        # truncated — its late rows are genuinely new and stay accepted.
        # This also makes run_once idempotent under full-batch replay.
        # ONE full-store aggregate per tick: (min indexedAt, count) per
        # key feeds both the floors filter and the init-mode detection
        # below.
        store_stats = (
            self.store.read()
            .groupBy("key")
            .agg(F.min("indexedAt").alias("_floor"), F.count("*").alias("_n"))
            .collect()
            if self.store.exists()
            else []
        )
        stored_counts = {r["key"]: r["_n"] for r in store_stats}

        caps = {
            c.key: (c.limitCount or 2**31 - 1, c.initTruncated)
            for c in self.registry.all()
            if c.limitCount or c.initTruncated
        }
        floor_rows = [
            (r["key"], r["_floor"])
            for r in store_stats
            if r["key"] in caps
            and (caps[r["key"]][1] or r["_n"] >= caps[r["key"]][0])
        ]
        if floor_rows:
            floors = self.spark.createDataFrame(
                floor_rows, "key string, _floor timestamp"
            )
            posts = (
                posts.join(F.broadcast(floors), "key", "left")
                .filter(F.col("_floor").isNull() | (F.col("indexedAt") > F.col("_floor")))
                .drop("_floor")
            )

        # T6 init-count: keys with no stored rows keep only the newest
        # initPost accepted posts on their first materialization
        # (src/subscription.ts:179-200).
        init_caps = {
            c.key: c.initPost
            for c in self.registry.all()
            if c.initPost is not None
        }
        fresh_keys = [k for k in init_caps if stored_counts.get(k, 0) == 0]
        if fresh_keys:
            # dedup (uri, key) BEFORE counting and ranking: duplicated
            # delivery is an expected input (upsert dedups too), and
            # duplicate rows must neither inflate the truncation
            # detection past initPost nor consume row_number ranks and
            # push distinct posts over the cap
            posts = dedup_within_batch(posts, ["uri", "key"])
            # the truncation-detection collect below AND store.upsert
            # both consume this plan — without a cache each would re-run
            # the full N-feed regex scan over the incoming batch (the
            # tick's most expensive stage); materialize it once
            posts = _cached_batch = posts.cache()
            # record which keys the cap actually truncates — only those
            # carry a low-watermark into later runs (see floors above)
            accepted_counts = {
                r["key"]: r["n"]
                for r in posts.filter(F.col("key").isin(fresh_keys))
                .groupBy("key")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            for c in self.registry.all():
                if (
                    c.key in accepted_counts
                    and init_caps.get(c.key)
                    and accepted_counts[c.key] > init_caps[c.key]
                ):
                    c.initTruncated = True
            init_caps_df = self.spark.createDataFrame(
                [(k, init_caps[k]) for k in fresh_keys], "key string, _init int"
            )
            w = Window.partitionBy("key").orderBy(
                F.col("indexedAt").desc(), F.col("cid").desc()
            )
            posts = (
                posts.join(F.broadcast(init_caps_df), "key", "left")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_init").isNull() | (F.col("_rn") <= F.col("_init")))
                .drop("_init", "_rn")
            )

        # J2 + S8: PK anti-join upsert; the store counts the actually
        # appended batch per key — no before/after full-store rescans.
        # try/finally: a failed upsert (e.g. a concurrent-writer conflict
        # from TxnLogFormat) must not leave the tick's batch cache pinned
        # for the life of the session
        try:
            appended = self.store.upsert(posts)
        finally:
            if fresh_keys:
                _cached_batch.unpersist()
        inserted = {c.key: appended.get(c.key, 0) for c in self.registry.all()}

        # T3/W7 retention caps per key (src/subscription.ts:379-393)
        self.store.apply_retention(
            {c.key: c.limitCount for c in self.registry.all() if c.limitCount}
        )

        # A5 per-key stats upsert (src/subscription.ts:370-400)
        elapsed_ms = int((time.time() - t0) * 1000)
        for cond in self.registry.all():
            cond.recordCount += max(0, inserted.get(cond.key, 0))
            cond.lastExecTime = elapsed_ms
        return inserted
