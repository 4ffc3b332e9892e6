"""PostStore: the materialized feed-contents table (reference ``post``).

The reference stores posts in SQLite with PK(uri, key) and mutates it with
upserts/deletes (``src/db/migrations.ts:13-22``). Spark-first equivalent:
a ``key``-partitioned Parquet table with

- upsert       = within-batch PK dedup + left-anti join against stored +
                 append (S8/J3; ``ON CONFLICT DO NOTHING`` semantics)
- retention    = window-rank rewrite of only the affected key partitions
                 (T3/W7), via dynamic partition overwrite
- delete(key)  = drop the key's partition (U4 cascade)

At 100 TB, partitioning by ``key`` (plus a date bucket of ``indexedAt``
for very hot keys) keeps every one of these operations scoped to the keys
actually touched in a micro-batch — never a full-table rewrite.

The LOGICAL mutation semantics live here; the PHYSICAL commit protocol
lives behind the :class:`.table_format.TableFormat` seam (default:
key-partitioned vanilla Parquet with dynamic partition overwrite, which
runs anywhere). Two ACID upgrades exist: pass
:class:`.table_format.TxnLogFormat` for the built-in transaction-log
format (atomic commits, snapshot isolation, time travel, vacuum — no
extra dependencies), or a Delta/Iceberg-backed adapter on a real
deployment, where every mutation becomes one ACID statement — the
mapping (MERGE / REPLACE WHERE / DELETE / OPTIMIZE) is documented in
``table_format.py``.

Every commit also keeps a *head* for each key it touches: the key's
newest rows in serving order, written on the driver at commit time and
named by a digest of the key's live file listing (``feed_heads.py``).
Serving answers a page from the head when the listing still matches and
the head covers the page; every other request runs the keyed Spark plan.
A head is derived from the old one (upsert merges in the batch's own
head, retention and refresh cut, CDC deletes filter, compaction
re-stamps), so a steady commit runs no extra Spark job; a key without a
valid old head is rebuilt by one keyed top-k job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import feed_heads
from .operators.dedup import dedup_within_batch, new_rows_anti_join
from .operators.retention import refresh_delete, retain_latest
from .schemas import POST_SCHEMA
from .table_format import ParquetPartitionedFormat, TableFormat


class PostStore:
    def __init__(self, spark: SparkSession, path: str, fmt: TableFormat | None = None):
        self.spark = spark
        self.path = path
        self.fmt: TableFormat = fmt or ParquetPartitionedFormat(spark, path)

    # -- read ---------------------------------------------------------------

    def exists(self) -> bool:
        return self.fmt.exists()

    def read(self, keys: list[str] | None = None) -> DataFrame:
        """The stored rows, or only those of ``keys``: a keyed read lists
        and scans just those keys' partitions (the format's contract)."""
        return self.fmt.read(self.spark, keys=keys)

    def read_key(self, key: str) -> DataFrame:
        return self.read(keys=[key])

    def count_by_key(self) -> DataFrame:
        """A1 (src/subscription.ts:183-189)."""
        return self.read().groupBy("key").agg(F.count("*").alias("n"))

    # -- heads --------------------------------------------------------------

    def _head_at(self, key: str) -> tuple[str | None, str, feed_heads.Head | None]:
        """(token, state, head) for the key's live files; the token is
        None when the format does not list files (no heads)."""
        files = self.fmt.key_files(key)
        if files is None:
            return None, "no_head", None
        tok = feed_heads.token(files)
        if not files:  # a key with no files has the empty whole head
            return tok, "head", feed_heads.EMPTY
        return (tok, *feed_heads.load(self.path, key, tok))

    def head(self, key: str) -> tuple[str, feed_heads.Head | None]:
        """``("head", head)`` when the key's head matches its live files;
        otherwise ``("stale", None)`` or ``("no_head", None)``."""
        return self._head_at(key)[1:]

    def _heads_before(self, keys) -> dict | None:
        """(token, head or None) of each key, read before a commit while
        the token still names the pre-commit files."""
        out = {k: self._head_at(k) for k in keys}
        if any(tok is None for tok, _, _ in out.values()):
            return None
        return {k: (tok, h) for k, (tok, _, h) in out.items()}

    def _heads_after(self, before: dict | None, derive) -> None:
        """Write the head of each key in ``before`` after a commit:
        ``derive(key, old_head)`` gives it from the old head (None:
        unknown, the key stays headless); a key whose old head was
        missing is rebuilt, all of them by one keyed job."""
        if before is None:
            return
        rebuild = {}
        for k, (old_tok, old) in before.items():
            files = self.fmt.key_files(k)
            tok = feed_heads.token(files)
            if tok == old_tok:  # nothing landed (a replayed txn append)
                continue
            if files and old is None:
                rebuild[k] = tok
                continue
            new = derive(k, old) if files else None  # an empty key needs none
            if new is None:
                feed_heads.drop(self.path, k)
            else:
                feed_heads.write(self.path, k, tok, new)
        if rebuild:
            top = feed_heads.top_rows(self.read(keys=list(rebuild))).collect()
            built = feed_heads.from_top(top)[1]
            for k, tok in rebuild.items():
                feed_heads.write(self.path, k, tok, built.get(k, feed_heads.EMPTY))

    # -- write --------------------------------------------------------------

    def _append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> None:
        # Feature-detect transactional appends STATICALLY from the
        # signature — never by catching TypeError around the real call: a
        # TypeError raised inside a txn-capable format's append (possibly
        # after staging work) would be misread as "no txn support" and
        # silently retried on the plain path, duplicating the append and
        # downgrading exactly-once to at-least-once.
        if txn is not None:
            import inspect

            try:
                params = inspect.signature(self.fmt.append).parameters
            except (TypeError, ValueError):  # builtins without signatures
                params = {}
            if "txn" in params:
                self.fmt.append(df, txn=txn)
                return
        self.fmt.append(df)

    def upsert(
        self, incoming: DataFrame, txn: tuple[str, int] | None = None
    ) -> dict[str, int]:
        """S8: INSERT ... ON CONFLICT DO NOTHING on PK(uri, key).
        Returns rows actually inserted per key (counted on the deduped
        anti-joined batch — no store rescan).

        ``txn=(app_id, version)`` rides through to formats with
        transactional appends (TxnLogFormat): a replayed (app, version)
        skips the physical append entirely — exactly-once on top of the
        anti-join's logical idempotence.

        The anti-join's stored side is pruned to the key partitions the
        batch actually touches — the feed-key set is small by design
        (one row per configured feed), so this is a cheap driver-side
        collect that turns a full-store shuffle into a few-partition
        scan at any store size."""
        # NULL-PK rows are rejected outright: a post without uri/key can
        # never be served, and NULL never equals NULL in the anti-join,
        # so such a row would be re-inserted on EVERY re-delivery —
        # 'ON CONFLICT DO NOTHING' silently lost for exactly the hostile
        # rows PERMISSIVE parsing lets through.  So is a row without the
        # (indexedAt, cid) sort key: a page ending on it could not encode
        # a cursor, and the rest of its feed could not be paged
        incoming = incoming.filter(
            F.col("uri").isNotNull()
            & F.col("key").isNotNull()
            & F.col("indexedAt").isNotNull()
            & F.col("cid").isNotNull()
        )
        deduped = dedup_within_batch(incoming, ["uri", "key"]).cache()
        batch = deduped
        try:
            if self.exists():
                keys = [r["key"] for r in deduped.select("key").distinct().collect()]
                if not keys:
                    return {}
                stored = self.read(keys=keys)
                batch = new_rows_anti_join(deduped, stored, ["uri", "key"]).cache()
            # one job gives both the inserted count and the batch's own
            # head per key, which the new heads are merged from
            inserted, batch_heads = feed_heads.from_top(
                feed_heads.top_rows(batch).collect()
            )
            before = self._heads_before(inserted)
            self._append(batch, txn=txn)
            self._heads_after(
                before, lambda k, old: feed_heads.merge(old, batch_heads[k])
            )
            return inserted
        finally:
            deduped.unpersist()
            if batch is not deduped:
                batch.unpersist()

    def apply_retention(self, limit_by_key: dict[str, int]) -> None:
        """T3/W7: evict rows beyond each key's cap, rewriting only keys
        that are actually over their cap."""
        if not self.exists() or not limit_by_key:
            return
        limits = self.spark.createDataFrame(
            list(limit_by_key.items()), "key string, _cap int"
        )
        stored = self.read(keys=list(limit_by_key)).join(
            F.broadcast(limits), "key", "inner"
        )
        over = (
            stored.groupBy("key", "_cap")
            .count()
            .filter(F.col("count") > F.col("_cap"))
            .select("key")
        )
        over_keys = [r["key"] for r in over.collect()]  # one row per feed key
        if not over_keys:
            return
        before = self._heads_before(over_keys)
        affected = stored.filter(F.col("key").isin(over_keys))
        # cache: overwrite_partitions consumes this plan twice (its
        # written-keys collect + the write itself) — without the cache
        # the affected partitions' join+window rescans per consumer
        kept = retain_latest(affected, F.col("_cap"), "key").drop("_cap").cache()
        try:
            # expected_keys closes the dynamic-overwrite blind spot here
            # too: a cap that keeps ZERO rows for a key (cap 0) must
            # still rewrite (empty) that key's partition, not skip it
            self.fmt.overwrite_partitions(kept, expected_keys=over_keys)
        finally:
            kept.unpersist()
        self._heads_after(
            before, lambda k, old: feed_heads.retained(old, limit_by_key[k])
        )

    def apply_refresh(self, key: str, refresh: int) -> None:
        """T4: drop the N newest rows for key (or all rows for -1)."""
        if not self.exists() or refresh == 0:
            return
        if refresh == -1:
            self.delete_key(key)
            return
        before = self._heads_before([key])
        remaining = refresh_delete(self.read_key(key), refresh, key)
        self.fmt.overwrite_partitions(remaining, expected_keys=[key])
        self._heads_after(before, lambda k, old: feed_heads.refreshed(old, refresh))

    def delete_rows(self, doomed: DataFrame) -> None:
        """W6 CDC delete-apply: remove specific (uri, key) rows by
        rewriting only the key partitions that actually contain them."""
        if not self.exists():
            return
        doomed = doomed.select("uri", "key").distinct()
        uris: dict[str, set] = {}
        for r in doomed.collect():  # the doomed URIs also trim the heads
            uris.setdefault(r["key"], set()).add(r["uri"])
        if not uris:
            return
        keys = list(uris)
        before = self._heads_before(keys)
        remaining = self.read(keys=keys).join(doomed, ["uri", "key"], "left_anti")
        self.fmt.overwrite_partitions(remaining, expected_keys=keys)
        self._heads_after(before, lambda k, old: feed_heads.without(old, uris[k]))

    def file_counts(self) -> dict[str, int]:
        """Data files per key partition (compaction signal)."""
        return self.fmt.file_counts()

    def compact(self, max_files_per_key: int = 4) -> list[str]:
        """Rewrite fragmented key partitions into few files. Micro-batch
        appends add a file per batch per key; without compaction a
        long-running feed degrades every read (file-listing + tiny
        row groups). Only partitions above the threshold are rewritten
        (same dynamic-partition-overwrite scoping as retention).
        Returns the keys compacted."""
        fragmented = [
            k for k, n in self.file_counts().items() if n > max_files_per_key
        ]
        if not fragmented:
            return []
        before = self._heads_before(fragmented)
        affected = self.read(keys=fragmented)
        # hash-repartition by key -> one writer task (one file) per key;
        # a pathologically hot key would add a salt column here to split
        # output into size-targeted files. Rows are written newest-first
        # within each partition so parquet row-group min/max stats on
        # indexedAt become selective — keyset pagination (T2) filters on
        # indexedAt and skips whole row groups in a compacted store.
        self.fmt.overwrite_partitions(
            affected.repartition(len(fragmented), "key")
            .sortWithinPartitions("key", F.col("indexedAt").desc(), F.col("cid").desc())
        )
        # same rows in new files: the old heads hold under the new tokens
        self._heads_after(before, lambda k, old: old)
        return fragmented

    def delete_key(self, key: str) -> None:
        """U4 cascade: remove the key's partition entirely."""
        self.fmt.delete_partition(key)
        feed_heads.drop(self.path, key)
