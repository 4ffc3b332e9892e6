"""TableFormat: the physical-layout seam under :class:`.store.PostStore`.

The reference's post table lives in SQLite, where every mutation is a
transaction (``src/db/migrations.ts:13-22``). The Spark-first equivalent
separates LOGICAL mutation semantics (upsert = anti-join + append,
retention = windowed rewrite, cascade = partition drop — all in
``store.py``) from the PHYSICAL commit protocol, which this interface
owns. Two reasons:

1. The sandbox implementation (vanilla Parquet + dynamic partition
   overwrite) has documented non-ACID edges: dynamic overwrite cannot
   express "this partition now has zero rows" (the deletion blind spot,
   worked around with ``expected_keys``), and concurrent readers can see
   a partially rewritten partition mid-job.
2. At 100 TB you would run this on an ACID table format instead, and the
   mapping is mechanical. For Delta / Iceberg, implement this interface
   as:

   - ``append(df)``                 -> plain transactional append
     (or ``MERGE INTO t USING batch ON t.uri = b.uri AND t.key = b.key
     WHEN NOT MATCHED THEN INSERT *`` to fold the anti-join into the
     commit and make upsert a single atomic op).
   - ``overwrite_partitions(df)``   -> ``REPLACE WHERE key IN (...)``
     (Delta ``replaceWhere`` / Iceberg ``overwritePartitions``) — an
     empty result for a named key is an honest transactional delete, so
     the ``expected_keys`` blind-spot workaround DISAPPEARS.
   - ``delete_partition(key)``      -> ``DELETE FROM t WHERE key = k``.
   - ``file_counts``/compaction     -> ``OPTIMIZE`` / ``rewrite_data_files``;
     snapshot isolation makes compaction safe under concurrent reads,
     replacing the Parquet impl's visible-rewrite window.

The interface is deliberately tiny and key-partition-oriented: every
PostStore mutation is scoped to the feed keys a micro-batch touches, and
that scoping is what keeps mutations O(touched partitions), not O(table),
at any scale.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import POST_SCHEMA

_COLS = [f.name for f in POST_SCHEMA.fields]
# A Parquet file read returns every field nullable, so the empty frame of
# a store with no files must too, or read().schema depends on emptiness.
_READ_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in POST_SCHEMA.fields]
)

# Spark/Hive partition-value escaping (ExternalCatalogUtils
# .escapePathName, verified empirically against this Spark's writer):
# control chars U+0001-U+001F, U+007F, and  " # % ' * / : = ? \ [ ] ^ {
# become %XX (uppercase hex); everything else — including space, } | < >
# — is literal.  Data-side DataFrames always carry the RAW key (Spark
# unescapes partition values on read); the LOG and the on-disk dir
# names carry the ESCAPED form.  Every raw->escaped boundary must cross
# through these two helpers (review r10: delete_partition /
# expected_keys / file_counts compared raw against escaped, so a key
# containing ':' or '/' silently no-opped the U4 cascade delete, left
# emptied partitions alive, and hid fragmentation from compaction).
_ESCAPE_CHARS = (
    set('"#%\'*/:=?\\[]^{')
    | {chr(c) for c in range(1, 0x20)}
    | {"\x7f"}
)


def escape_partition_value(v: str) -> str:
    """Raw partition value -> on-disk/log form (Spark's escapePathName)."""
    return "".join(
        f"%{ord(c):02X}" if c in _ESCAPE_CHARS else c for c in v
    )


def unescape_partition_value(v: str) -> str:
    """On-disk/log form -> raw.  urllib unquote is an exact inverse:
    '%' itself is always escaped, so every literal '%XX' on disk denotes
    an escape, never raw text."""
    from urllib.parse import unquote

    return unquote(v)


# TxnLogFormat's on-disk layout: data files under ``data/key=<k>/`` and
# one JSON commit per version at ``_txn_log/<version:020d>.json``. The
# helpers below are its one reader, shared by TxnLogFormat and the
# change-feed stream source (sources/table_changes.py).
LOG_DIR = "_txn_log"
DATA_DIR = "data"


def log_versions(log_path: str) -> list[int]:
    """The committed versions in a transaction log directory, ascending."""
    out = []
    for n in os.listdir(log_path):
        if n.endswith(".json") and not n.endswith(".checkpoint.json"):
            stem = n[: -len(".json")]
            if stem.isdigit():
                out.append(int(stem))
    return sorted(out)


def log_entry_path(log_path: str, v: int) -> str:
    return os.path.join(log_path, f"{v:020d}.json")


def read_log_entry(log_path: str, v: int) -> dict:
    import json

    with open(log_entry_path(log_path, v)) as f:
        return json.load(f)


def partition_key_of(rel_path: str) -> str:
    """The on-disk (escaped) key of a data file path relative to
    ``data/``, or "" when it has no ``key=`` segment."""
    for seg in rel_path.split("/"):
        if seg.startswith("key="):
            return seg[4:]
    return ""


class TableFormat:
    """Abstract physical table adapter (see module docstring)."""

    def exists(self) -> bool:
        raise NotImplementedError

    def read(
        self, spark: SparkSession, keys: list[str] | None = None
    ) -> DataFrame:
        """Table scan in canonical column order (empty DF if absent).

        ``keys=None`` reads every partition. A list of RAW feed keys
        reads exactly those keys' rows, and an implementation must list
        and open only their partitions: serving reads one key per
        request, so anything it does per key of the whole table is paid
        on every request. A key with no partition contributes no rows;
        if none has one, the result is the empty table."""
        raise NotImplementedError

    def append(self, df: DataFrame) -> None:
        raise NotImplementedError

    def overwrite_partitions(
        self, df: DataFrame, expected_keys: list[str] | None = None
    ) -> None:
        """Replace exactly the key partitions named in ``df`` (plus, for
        formats that need the workaround, drop any ``expected_keys``
        partition that ``df`` left empty)."""
        raise NotImplementedError

    def delete_partition(self, key: str) -> None:
        raise NotImplementedError

    def file_counts(self) -> dict[str, int]:
        """Data files per key partition (compaction signal); formats with
        native compaction may return {}."""
        raise NotImplementedError

    def key_files(self, key: str) -> list[str] | None:
        """The live data files of one RAW key, as a sorted list of names
        that changes on every commit to the key ([] when it has none).
        Feed heads are keyed by a digest of it (see ``feed_heads``);
        None means "no listing", and the store then keeps no heads."""
        return None


class ParquetPartitionedFormat(TableFormat):
    """Default sandbox implementation: ``key``-partitioned vanilla
    Parquet with dynamic partition overwrite. Runs anywhere Spark runs;
    carries the two documented non-ACID edges the module docstring maps
    onto Delta/Iceberg."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    @contextmanager
    def _dynamic_overwrite(self):
        """Scope partitionOverwriteMode=dynamic to OUR overwrite only
        (replace just the partitions present in the written data).
        Setting it session-wide in __init__ silently changed overwrite
        semantics for every OTHER writer in the session — a static
        INSERT OVERWRITE elsewhere would stop truncating absent
        partitions and leave stale data."""
        conf = self.spark.conf
        key = "spark.sql.sources.partitionOverwriteMode"
        old = conf.get(key, None)
        conf.set(key, "dynamic")
        try:
            yield
        finally:
            if old is None:
                conf.unset(key)
            else:
                conf.set(key, old)

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            not n.startswith(("_", ".")) for n in os.listdir(self.path)
        )

    def read(
        self, spark: SparkSession, keys: list[str] | None = None
    ) -> DataFrame:
        # The schema is given, never inferred: inference costs a footer
        # read per call, and partition-type inference would turn a key
        # such as "007" into the int 7. A keyed read lists only the
        # named key directories, so its cost does not grow with the
        # number of keys in the store.
        if keys is None:
            paths = [self.path] if self.exists() else []
        else:
            dirs = (
                os.path.join(self.path, f"key={escape_partition_value(k)}")
                for k in dict.fromkeys(keys)
            )
            paths = [d for d in dirs if os.path.isdir(d)]
        if not paths:
            return spark.createDataFrame([], _READ_SCHEMA)
        return (
            spark.read.schema(POST_SCHEMA)
            .option("basePath", self.path)
            .parquet(*paths)
            .select(_COLS)
        )

    def append(self, df: DataFrame) -> None:
        df.select(_COLS).write.mode("append").partitionBy("key").parquet(self.path)

    def overwrite_partitions(
        self, df: DataFrame, expected_keys: list[str] | None = None
    ) -> None:
        # Dynamic overwrite's deletion blind spot: a key with ZERO
        # remaining rows writes no partition, so its old files silently
        # survive. Callers that may empty a partition pass expected_keys;
        # any expected key absent from df gets its partition dropped
        # explicitly. (On Delta/Iceberg REPLACE WHERE this body is one
        # atomic statement and the workaround disappears.)
        written: set[str] = set()
        if expected_keys is not None:
            written = {r["key"] for r in df.select("key").distinct().collect()}
        if expected_keys is None or written:
            with self._dynamic_overwrite():
                df.select(_COLS).write.mode("overwrite").partitionBy(
                    "key"
                ).parquet(self.path)
        if expected_keys is not None:
            for k in set(expected_keys) - written:
                self.delete_partition(k)

    def delete_partition(self, key: str) -> None:
        # the on-disk dir carries the ESCAPED key (see module helpers)
        part_dir = os.path.join(
            self.path, f"key={escape_partition_value(key)}"
        )
        if os.path.isdir(part_dir):
            import shutil

            shutil.rmtree(part_dir)

    def key_files(self, key: str) -> list[str]:
        # what Spark's file index reads: every entry not hidden by "." or "_"
        part_dir = os.path.join(self.path, f"key={escape_partition_value(key)}")
        try:
            names = os.listdir(part_dir)
        except FileNotFoundError:
            return []
        return sorted(n for n in names if not n.startswith((".", "_")))

    def file_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        if not self.exists():
            return out
        for entry in os.listdir(self.path):
            if entry.startswith("key="):
                part = os.path.join(self.path, entry)
                n = sum(
                    1
                    for f in os.listdir(part)
                    if f.endswith(".parquet") and not f.startswith((".", "_"))
                )
                # callers compare these against DataFrame keys — raw form
                out[unescape_partition_value(entry[len("key=") :])] = n
        return out


def _footer_stats(parquet_path: str) -> dict | None:
    """(rows, min/max indexedAt micros) from the parquet FOOTER — pure
    metadata, no row read (the Delta stats-in-add-action source).  None
    when statistics are absent (e.g. INT96 files from other writers):
    stats are an optimization, never a gate."""
    import calendar

    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(parquet_path).metadata
        idx = md.schema.names.index("indexedAt")
        lo = hi = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            for v, pick in ((st.min, "lo"), (st.max, "hi")):
                us = (
                    calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
                )
                if pick == "lo":
                    lo = us if lo is None else min(lo, us)
                else:
                    hi = us if hi is None else max(hi, us)
        if lo is None:
            return None
        return {"rows": md.num_rows, "ts_min_us": lo, "ts_max_us": hi}
    except Exception:
        return None


class SchemaEvolutionError(ValueError):
    """Incompatible write schema: a shared column changed type. New
    columns evolve the table; type changes never do (no silent casts)."""


class ConstraintViolationError(ValueError):
    """A write batch contains rows failing a CHECK constraint, or
    ADD CONSTRAINT found existing rows failing the new constraint."""


class ConcurrentWriteError(RuntimeError):
    """Optimistic-concurrency conflict that cannot be auto-rebased:
    another writer committed a change overlapping this commit's key
    partitions between snapshot and commit."""


class VacuumedIntervalError(RuntimeError):
    """changes_between(strict=True) found the interval references
    vacuumed files: the change feed would be silently incomplete."""


class TxnLogFormat(TableFormat):
    """Transaction-log table format ("Delta-lite"): ACID commits over
    immutable Parquet data files, closing both non-ACID edges the
    default Parquet impl documents (the deletion blind spot and the
    visible-rewrite window).

    This is an original implementation of the PUBLIC log-structured
    table design (Armbrust et al., "Delta Lake: High-Performance ACID
    Table Storage over Cloud Object Stores", VLDB 2020; Apache Iceberg's
    snapshot spec is the same idea):

    - Data files are IMMUTABLE, laid out ``data/key=<k>/<uuid>.parquet``.
      Every mutation stages new files, then commits a JSON log entry
      ``_txn_log/<version>.json`` with ``add``/``remove`` file actions.
    - A commit becomes visible atomically: the entry is written to a
      temp name then ``os.link``ed to its version path — link fails with
      EEXIST if another writer took that version (the sandbox analog of
      a cloud store's put-if-absent, which is exactly what Delta uses).
      On conflict the writer re-reads the snapshot and REBASES: appends
      always rebase; partition-scoped ops rebase iff the interleaved
      commits touched disjoint keys, else :class:`ConcurrentWriteError`.
    - Readers resolve a SNAPSHOT (live = adds minus removes, replayed in
      version order) and read only those files — a reader never sees a
      half-committed mutation, and compaction/retention rewrites are
      invisible until their single commit lands (snapshot isolation).
    - ``overwrite_partitions`` with an emptied key simply removes the
      key's live files in the same atomic commit — the deletion blind
      spot disappears; ``expected_keys`` is accepted for interface
      parity but no longer a correctness workaround.
    - Every ``checkpoint_interval`` commits, the full live-file set is
      written to ``<version>.checkpoint.json`` so snapshot resolution
      replays O(interval) entries, not O(history) — the standard
      log-compaction move that keeps metadata cost flat over years of
      micro-batches.
    - ``read(version=N)`` time-travels; ``history()`` lists commits;
      ``vacuum()`` physically deletes files no live snapshot references
      (files removed before the oldest retained version).

    100 TB notes: the log holds file-granularity metadata only (path,
    key, rows) — a million-file table is a few MB of JSON; per-key
    scoping keeps every mutation O(touched partitions); the put-if-
    absent commit is the only serialization point, and it costs one
    metadata op per micro-batch regardless of data volume.
    """

    LOG_DIR = LOG_DIR
    DATA_DIR = DATA_DIR

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        checkpoint_interval: int = 10,
        max_commit_retries: int = 20,
    ):
        self.spark = spark
        self.path = path
        self.log_path = os.path.join(path, self.LOG_DIR)
        self.data_path = os.path.join(path, self.DATA_DIR)
        self.checkpoint_interval = checkpoint_interval
        self.max_commit_retries = max_commit_retries
        # young-unreferenced files the LAST vacuum() left behind (grace
        # window) — lets callers distinguish "clean" from "too young"
        self.last_vacuum_skipped_young = 0
        os.makedirs(self.log_path, exist_ok=True)
        os.makedirs(self.data_path, exist_ok=True)

    # ---------------------------------------------------------- log I/O

    def _versions(self) -> list[int]:
        return log_versions(self.log_path)

    def _checkpoints(self) -> list[int]:
        return sorted(
            int(n[: -len(".checkpoint.json")])
            for n in os.listdir(self.log_path)
            if n.endswith(".checkpoint.json")
            and n[: -len(".checkpoint.json")].isdigit()
        )

    def _entry_path(self, v: int) -> str:
        return log_entry_path(self.log_path, v)

    def _read_entry(self, v: int) -> dict:
        return read_log_entry(self.log_path, v)

    def _replay(
        self, version: int | None = None
    ) -> tuple[dict[str, str], dict[str, dict]]:
        """ONE pass over the log (checkpoint-resumed): returns the live
        file map {relative_path: key} AND the per-file stats map — the
        single source of truth for both, so snapshot and stats can never
        drift and a stats-aware read parses the log once."""
        import json

        versions = self._versions()
        if version is not None:
            versions = [v for v in versions if v <= version]
        if not versions:
            return {}, {}
        live: dict[str, str] = {}
        stats: dict[str, dict] = {}
        start = 0
        # resume from the newest checkpoint at or below the target
        cks = [c for c in self._checkpoints() if c <= versions[-1]]
        if cks:
            ck = cks[-1]
            with open(
                os.path.join(self.log_path, f"{ck:020d}.checkpoint.json")
            ) as f:
                ckd = json.load(f)
            live = dict(ckd["live"])
            stats = dict(ckd.get("stats", {}))
            start = ck + 1
        for v in versions:
            if v < start:
                continue
            e = self._read_entry(v)
            for rm in e.get("remove", []):
                live.pop(rm, None)
                stats.pop(rm, None)
            for a in e.get("add", []):
                live[a["path"]] = a["key"]
                if "stats" in a:
                    stats[a["path"]] = a["stats"]
                else:
                    stats.pop(a["path"], None)
        return live, stats

    def _meta_replay(self, version: int | None = None) -> dict:
        """Resolved table METADATA at ``version`` in one checkpoint-
        resumed pass: ``{"schema": StructType-json-or-None,
        "constraints": {name: expr}, "txn": {app: watermark}}``.

        Same O(interval) discipline :meth:`_replay` gives the file
        snapshot: resume from the newest checkpoint at or below the
        target that carries a ``meta`` block and replay only the
        entries past it — without this, ``constraints()`` /
        ``table_schema()`` / ``last_txn_version()`` each re-parsed the
        FULL log per call (round-7 verdict #5).  Checkpoints written
        before the meta block existed are skipped (falls back to the
        newest one that has it, else a full replay — conservative,
        never wrong)."""
        import json

        versions = self._versions()
        if version is not None:
            versions = [v for v in versions if v <= version]
        meta: dict = {"schema": None, "constraints": {}, "txn": {}}
        start = 0
        if versions:
            cks = [c for c in self._checkpoints() if c <= versions[-1]]
            if cks:
                # only the NEWEST checkpoint is consulted: checkpoints are
                # written in version order, so if it lacks a meta block
                # (pre-upgrade file) every older one does too — fall back
                # to a full replay without opening them all
                ck = cks[-1]
                with open(
                    os.path.join(self.log_path, f"{ck:020d}.checkpoint.json")
                ) as f:
                    m = json.load(f).get("meta")
                if m is not None:
                    meta = {
                        "schema": m.get("schema"),
                        "constraints": dict(m.get("constraints", {})),
                        "txn": dict(m.get("txn", {})),
                    }
                    start = ck + 1
        for v in versions:
            if v < start:
                continue
            e = self._read_entry(v)
            s = e.get("schema")
            if s is not None:
                meta["schema"] = s
            c = e.get("constraint_add")
            if c:
                meta["constraints"][c["name"]] = c["expr"]
            d = e.get("constraint_drop")
            if d:
                meta["constraints"].pop(d, None)
            t = e.get("txn")
            if t:
                app = t["app"]
                meta["txn"][app] = max(
                    int(meta["txn"].get(app, -1)), int(t.get("version", -1))
                )
        return meta

    def _snapshot(self, version: int | None = None) -> dict[str, str]:
        """Live data files at ``version`` (default latest) as
        {relative_path: key}."""
        return self._replay(version)[0]

    def _snapshot_stats(self, version: int | None = None) -> dict[str, dict]:
        """Per-file column stats for the live snapshot — files whose
        add-action predates stats simply cannot be pruned
        (conservative-correct)."""
        return self._replay(version)[1]

    def interval_file_changes(
        self, v_from: int, v_to: int
    ) -> tuple[dict[str, str], dict[str, str]]:
        """The net file delta for commits in (v_from, v_to]:
        ``(added, removed)`` as {relative_path: key}, with add+remove
        inside the window cancelled and removes counted only for files
        live at ``v_from`` — the SINGLE implementation of the CDF's
        netting algebra, shared by :meth:`changes_between` and external
        incremental consumers so their file sets can never drift apart."""
        if v_to < v_from:
            raise ValueError(f"v_to {v_to} < v_from {v_from}")
        added: dict[str, str] = {}
        removed: dict[str, str] = {}
        base = self._snapshot(v_from)
        for v in self._versions():
            if v <= v_from or v > v_to:
                continue
            e = self._read_entry(v)
            for rm in e.get("remove", []):
                if rm in added:
                    added.pop(rm)  # add+remove inside the window nets out
                # NOT elif (r14, found by the log-algebra Hypothesis
                # suite on its first run): a path live at v_from that is
                # RE-ADDED inside the window and then removed must still
                # surface as a remove — the old elif cancelled the
                # remove against the in-window add and the CDF silently
                # missed the delete (live(v2) lost the file but the
                # feed claimed nothing changed).  The format's own
                # writers never re-add a live path (fresh UUIDs; restore
                # re-adds only non-live paths), but the log is a public
                # on-disk contract and the netting algebra must hold
                # for any valid log.
                if rm in base:
                    removed[rm] = partition_key_of(rm)
            for a in e.get("add", []):
                added[a["path"]] = a["key"]
        return added, removed

    def _commit(
        self,
        op: str,
        adds: list[dict],
        remove_keys: set[str] | None,
        extra_removes: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        schema=None,
        validated_at: int | None = None,
    ) -> int:
        """Atomically publish one commit. ``remove_keys`` scopes the
        removes to live files of those keys, re-resolved against the
        CURRENT snapshot on every attempt (that re-resolution is the
        rebase). ``extra_removes`` pins explicit paths (merge's use);
        their keys join the conflict-detection scope so an interleaved
        commit on a key this commit only REMOVES from still conflicts.

        ``validated_at`` is the log tip the CALLER's pre-commit
        validation saw (schema reconcile + constraint enforcement):
        every interleaved commit PAST it is conflict-scanned before the
        link attempt — on the success path too, not just after a
        FileExistsError — so a schema evolution or constraint add that
        landed mid-validation can never be silently rebased over (the
        round-6 lost-column / constraint-TOCTOU bugs)."""
        import json
        import time as _time
        import uuid as _uuid

        my_keys = (
            {a["key"] for a in adds}
            | (remove_keys or set())
            | {partition_key_of(p) for p in (extra_removes or [])}
        )
        # normalize the schema to log ONCE (every field nullable, as the
        # link path does) so the conflict scan can compare it against an
        # interleaved commit's logged schema byte-for-byte
        my_schema_json = None
        if schema is not None:
            from pyspark.sql.types import StructField, StructType

            my_schema_json = StructType(
                [
                    StructField(f.name, f.dataType, True, f.metadata)
                    for f in schema.fields
                ]
            ).jsonValue()
        base = self._versions()
        base_v = base[-1] if base else -1
        # highest version already conflict-checked: everything at or
        # below the caller's validation snapshot needs no scan
        checked = base_v if validated_at is None else min(validated_at, base_v)
        for _attempt in range(self.max_commit_retries):
            # Resolve the snapshot AND the target version from ONE
            # directory listing (snapshot pinned at the listed tip, commit
            # attempted only at tip+1).  Two separate listings had a TOCTOU:
            # a commit landing between them was counted in the version (so
            # os.link succeeded, conflict detection never ran) but its
            # files were missing from the remove set — an overwrite/delete
            # could leave stale files of the touched key live.  Now any
            # interleaved commit either appears in the pinned snapshot or
            # makes tip+1 taken, forcing the FileExistsError conflict path.
            tip_versions = self._versions()
            tip = tip_versions[-1] if tip_versions else -1
            # conflict-scan every commit that landed after the caller's
            # validation / the last attempt
            for iv in range(checked + 1, tip + 1):
                if not os.path.exists(self._entry_path(iv)):
                    continue
                other = self._read_entry(iv)
                if txn is not None and other.get("txn"):
                    ot = other["txn"]
                    if ot.get("app") == txn[0] and int(
                        ot.get("version", -1)
                    ) >= int(txn[1]):
                        # an interleaved commit already carries this
                        # (app, version) watermark: a concurrent replay
                        # of the same idempotent batch beat us between
                        # the caller's last_txn_version probe and this
                        # link attempt.  Exactly-once means the LOSER
                        # becomes a no-op — drop our staged files and
                        # report the existing commit instead of landing
                        # the rows twice (Delta's txn-action conflict
                        # rule).
                        for a in adds:
                            try:
                                os.unlink(
                                    os.path.join(self.data_path, a["path"])
                                )
                            except OSError:
                                pass
                        return iv
                other_keys = {a["key"] for a in other.get("add", [])} | {
                    partition_key_of(p) for p in other.get("remove", [])
                }
                if op != "append" and (other_keys & my_keys):
                    raise ConcurrentWriteError(
                        f"{op} on keys {sorted(my_keys)} conflicts with "
                        f"commit {iv} ({other.get('op')}) touching "
                        f"{sorted(other_keys)}"
                    )
                if (
                    my_schema_json is not None
                    and other.get("schema") is not None
                    and other["schema"] != my_schema_json
                ):
                    # two concurrent DIFFERENT schema evolutions: the last
                    # logged StructType would silently win and DROP the
                    # other writer's column (Delta treats metaData changes
                    # as commit conflicts) — fail so the caller re-runs
                    # _reconcile against the new table schema.  Identical
                    # logged schemas (two initial appends with the same
                    # StructType, two evolutions adding the same column)
                    # are safe to rebase: either order yields the same
                    # resolved table schema.
                    raise ConcurrentWriteError(
                        f"{op} carries a schema change but commit {iv} "
                        f"({other.get('op')}) logged a DIFFERENT schema — "
                        f"re-reconcile against the new table schema"
                    )
                if (adds or my_schema_json is not None) and other.get(
                    "constraint_add"
                ):
                    # a CHECK constraint landed after this write's rows
                    # were validated: those rows were never checked
                    # against it — fail so the caller re-validates.
                    # Schema-bearing commits conflict even with NO adds:
                    # a remove-only restore reverts the table schema, and
                    # the interleaved constraint's evaluability was never
                    # probed against the reverted schema (it could
                    # reference a column the restore just removed,
                    # wedging every later write).  Pure removes without a
                    # schema (retention, deletes) rebase cleanly — a
                    # constraint validated against a superset of the
                    # surviving rows.
                    c = other["constraint_add"]
                    raise ConcurrentWriteError(
                        f"{op} validated before constraint "
                        f"{c['name']!r} ({c['expr']}) was added in commit "
                        f"{iv} — re-validate the batch"
                    )
            checked = tip
            removes = list(extra_removes or [])
            if remove_keys:
                snap = self._snapshot(version=tip) if tip >= 0 else {}
                removes += [p for p, k in snap.items() if k in remove_keys]
            v = tip + 1
            entry = {
                "version": v,
                "op": op,
                "ts": _time.time(),
                "add": adds,
                "remove": sorted(set(removes)),
            }
            if txn is not None:
                entry["txn"] = {"app": txn[0], "version": int(txn[1])}
            if my_schema_json is not None:
                # full StructType JSON (Delta metaData-style): the log is
                # the single source of truth for the schema at a version,
                # normalized all-nullable above (a batch built from
                # literals carries nullable=false, but schema evolution
                # NULL-fills that column for every pre-widening file, so
                # the logged contract must admit nulls or strict readers
                # — the Python DataSource CDF stream — reject the
                # backfill).
                entry["schema"] = my_schema_json
            tmp = os.path.join(self.log_path, f".tmp-{_uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump(entry, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, self._entry_path(v))  # put-if-absent
                os.unlink(tmp)
                self._maybe_checkpoint(v)
                return v
            except FileExistsError:
                os.unlink(tmp)
                # a concurrent commit took version v — the next attempt's
                # pre-link scan (checked+1 .. new tip) decides rebase vs
                # fail, so the retry itself is unconditional here
        raise ConcurrentWriteError(
            f"gave up after {self.max_commit_retries} commit attempts"
        )

    def _maybe_checkpoint(self, v: int) -> None:
        import json

        if self.checkpoint_interval and (v + 1) % self.checkpoint_interval == 0:
            ck = os.path.join(self.log_path, f"{v:020d}.checkpoint.json")
            tmp = ck + ".tmp"
            with open(tmp, "w") as f:
                live, stats = self._replay(v)
                # stats ride the checkpoint so log-level skipping
                # survives log compaction; the meta block (resolved
                # schema, constraint map, per-app txn watermarks) makes
                # constraints()/table_schema()/last_txn_version()
                # O(interval) instead of O(full log)
                json.dump(
                    {
                        "version": v,
                        "live": live,
                        "stats": stats,
                        "meta": self._meta_replay(v),
                    },
                    f,
                )
            os.replace(tmp, ck)

    # ------------------------------------------------ CHECK constraints

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """Active CHECK constraints at ``version`` as {name: sql_expr},
        replayed from constraint_add / constraint_drop log actions
        (checkpoint-resumed: O(interval) entry reads, not O(log))."""
        return self._meta_replay(version)["constraints"]

    def add_constraint(self, name: str, expr: str) -> None:
        """ALTER TABLE ADD CONSTRAINT (Delta CHECK-constraint analog):
        validates the expression parses AND that every CURRENT row
        satisfies it (one aggregate job), then commits a metadata-only
        log entry. Standard SQL CHECK semantics: a row violates only
        when the expression evaluates to FALSE — NULL/unknown passes.

        TOCTOU-closed on BOTH sides: the validation pins the log tip it
        read, and :meth:`_commit_meta` conflict-scans every commit past
        that tip before linking — a data append that lands between the
        validation read and the constraint's commit forces a RE-VALIDATE
        against the new snapshot instead of landing the constraint over
        rows it never checked (the mirror ordering of the append-side
        ``validated_at`` scan in :meth:`_commit`)."""
        for _attempt in range(self.max_commit_retries):
            vs = self._versions()
            tip = vs[-1] if vs else -1
            df = self.read(self.spark, version=tip if tip >= 0 else None)
            try:
                bad = df.filter(F.expr(expr) == F.lit(False)).count()
            except Exception as ex:
                # unanalyzable against the CURRENT schema — either the
                # expression references a column that never existed, or
                # an interleaved schema change (e.g. a remove-only
                # restore that won a _commit_meta conflict retry)
                # removed it mid-add: refuse cleanly either way
                raise ConstraintViolationError(
                    f"cannot add constraint {name!r} ({expr}): not "
                    f"evaluable against the table schema at version "
                    f"{tip} ({ex})"
                ) from ex
            if bad:
                raise ConstraintViolationError(
                    f"cannot add constraint {name!r} ({expr}): "
                    f"{bad} existing rows violate it"
                )
            try:
                self._commit_meta(
                    {"constraint_add": {"name": name, "expr": expr}},
                    validated_at=tip,
                )
                return
            except ConcurrentWriteError:
                # an interleaved data commit invalidated the validation
                # snapshot — loop back and re-validate against the new tip
                continue
        raise ConcurrentWriteError(
            f"gave up adding constraint {name!r} after "
            f"{self.max_commit_retries} validate-and-commit attempts"
        )

    def drop_constraint(self, name: str) -> None:
        self._commit_meta({"constraint_drop": name})

    def _commit_meta(self, extra: dict, validated_at: int | None = None) -> None:
        """Metadata-only commit (no adds/removes). Reuses the same
        put-if-absent version race as data commits.  With
        ``validated_at`` set (the tip the caller's validation read),
        any DATA-BEARING commit that landed past it fails the commit
        with :class:`ConcurrentWriteError` so the caller re-validates —
        metadata-only interleavings (another constraint, a schema note)
        never saw unvalidated rows and rebase cleanly."""
        import json
        import time as _time
        import uuid as _uuid

        for _attempt in range(self.max_commit_retries):
            tip_versions = self._versions()
            tip = tip_versions[-1] if tip_versions else -1
            if validated_at is not None:
                for iv in range(validated_at + 1, tip + 1):
                    if not os.path.exists(self._entry_path(iv)):
                        continue
                    e = self._read_entry(iv)
                    # adds = rows this meta commit's validation never
                    # scanned; a logged schema = the table shape this
                    # commit's validation/evaluability read is stale
                    # (e.g. a remove-only restore logs add:[] but
                    # REVERTS the schema — a constraint referencing a
                    # column that restore removed must not land).
                    # Remove-only entries without a schema (retention,
                    # deletes) rebase cleanly: validation saw a
                    # superset of the surviving rows.
                    if e.get("add") or e.get("schema") is not None:
                        raise ConcurrentWriteError(
                            f"meta commit validated at version "
                            f"{validated_at} but commit {iv} "
                            f"({e.get('op')}) carrying data or a schema "
                            f"change landed since — re-validate against "
                            f"the new snapshot"
                        )
            v = tip + 1
            entry = {"version": v, "op": "meta", "ts": _time.time(),
                     "add": [], "remove": [], **extra}
            tmp = os.path.join(self.log_path, f".tmp-{_uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump(entry, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, self._entry_path(v))
                os.unlink(tmp)
                self._maybe_checkpoint(v)
                return
            except FileExistsError:
                os.unlink(tmp)
        raise ConcurrentWriteError(
            f"gave up after {self.max_commit_retries} meta-commit attempts"
        )

    def _enforce_constraints(self, df: DataFrame) -> None:
        """One conditional-sum aggregate over the batch checking every
        active constraint; raises with per-constraint violation counts.
        Zero cost when no constraints exist."""
        cons = self.constraints()
        if not cons:
            return
        aggs = [
            F.sum(F.when(F.expr(expr) == F.lit(False), 1).otherwise(0))
            .alias(name)
            for name, expr in cons.items()
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {n: int(row[n] or 0) for n in cons if row[n]}
        if bad:
            raise ConstraintViolationError(
                f"write violates CHECK constraints {bad} "
                f"(definitions: { {n: cons[n] for n in bad} })"
            )

    # ------------------------------------------------- schema evolution

    def table_schema(self, version: int | None = None):
        """The table schema AT ``version`` (default latest), resolved
        from the log: each schema-changing commit records the full
        StructType JSON (Delta's ``metaData`` action); the nearest
        schema at or below ``version`` wins, so time travel reads old
        versions with their OLD schema. Tables created before schema
        logging fall back to POST_SCHEMA (their implicit contract)."""
        from pyspark.sql.types import StructType

        s = self._meta_replay(version)["schema"]
        return StructType.fromJson(s) if s is not None else POST_SCHEMA

    def _cols(self, version: int | None = None) -> list[str]:
        return [f.name for f in self.table_schema(version).fields]

    def _reconcile(self, df: DataFrame):
        """Align a write batch with the table schema (Delta mergeSchema
        semantics): new columns EVOLVE the table (appended to the field
        list, recorded in this commit's log entry); columns missing from
        the batch are NULL-filled; a type change on a shared column
        raises :class:`SchemaEvolutionError` — never a silent cast.
        Returns ``(aligned_df, schema_to_log)`` where ``schema_to_log``
        is None when the table schema is unchanged by this write."""
        from pyspark.sql.types import StructType

        if "key" not in df.columns:
            raise ValueError("TxnLogFormat tables are partitioned by 'key'")
        if not self.exists():
            return df, df.schema
        cur = self.table_schema()
        cur_by_name = {f.name: f for f in cur.fields}
        df_by_name = {f.name: f for f in df.schema.fields}
        for name in set(cur_by_name) & set(df_by_name):
            if cur_by_name[name].dataType != df_by_name[name].dataType:
                raise SchemaEvolutionError(
                    f"column {name!r}: table has "
                    f"{cur_by_name[name].dataType.simpleString()}, batch has "
                    f"{df_by_name[name].dataType.simpleString()}"
                )
        new_fields = [f for f in df.schema.fields if f.name not in cur_by_name]
        out = StructType(list(cur.fields) + new_fields) if new_fields else cur
        sel = [
            F.col(f.name)
            if f.name in df_by_name
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in out.fields
        ]
        return df.select(*sel), (out if new_fields else None)

    def read_where_ts(
        self,
        spark: SparkSession,
        ts_min_us: int | None = None,
        ts_max_us: int | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Time-bounded read with LOG-LEVEL data skipping (Delta's
        stats-based file pruning): files whose [min, max] ``indexedAt``
        range — recorded in their add-action at write time — falls
        entirely outside [ts_min_us, ts_max_us] are never opened.  The
        exact predicate is still applied to the surviving files, so
        pruning is provably invisible to results (test-pinned).  At
        100 TB a retention scan or an incremental consumer reading "last
        hour" touches O(files-in-window), not O(table) — the same
        O(touched) discipline as every other mutation here, now on the
        read path.  Files without stats (pre-stats commits) are always
        read: conservative, never wrong."""
        schema = self.table_schema(version)
        live, stats = self._replay(version)
        if not live:
            return spark.createDataFrame([], schema)
        keep = []
        for rel in sorted(live):
            st = stats.get(rel)
            if st is not None and st.get("ts_min_us") is not None:
                if ts_max_us is not None and st["ts_min_us"] > ts_max_us:
                    continue
                if ts_min_us is not None and st["ts_max_us"] < ts_min_us:
                    continue
            keep.append(rel)
        if not keep:
            return spark.createDataFrame([], schema)
        df = (
            spark.read.schema(schema)
            .option("basePath", self.data_path)
            .parquet(*[os.path.join(self.data_path, p) for p in keep])
            .select([f.name for f in schema.fields])
        )
        ts_us = F.unix_micros(F.col("indexedAt"))
        if ts_min_us is not None:
            df = df.filter(ts_us >= ts_min_us)
        if ts_max_us is not None:
            df = df.filter(ts_us <= ts_max_us)
        return df

    # ---------------------------------------------------------- staging

    def _stage(self, df: DataFrame) -> list[dict]:
        """Write ``df`` as immutable per-key Parquet files and return
        their add-actions. One Spark write partitioned by key; staged
        files are hard-linked into ``data/key=<k>/<uuid>.parquet`` (same
        filesystem, atomic, never clobbers — names are fresh UUIDs)."""
        import shutil
        import uuid as _uuid

        staging = os.path.join(self.path, f"_staging-{_uuid.uuid4().hex}")
        # TIMESTAMP_MICROS (not the deprecated INT96 default) so parquet
        # footers carry real min/max statistics for indexedAt — the
        # add-action stats below then come from FOOTER METADATA, never a
        # second read of the rows just written
        ts_conf = "spark.sql.parquet.outputTimestampType"
        prev_ts = self.spark.conf.get(ts_conf)
        self.spark.conf.set(ts_conf, "TIMESTAMP_MICROS")
        try:
            # callers (append/overwrite/merge/optimize) align the batch
            # with the logged table schema via _reconcile before staging
            (
                df.write.mode("overwrite")
                .partitionBy("key")
                .parquet(staging)
            )
        finally:
            self.spark.conf.set(ts_conf, prev_ts)

        adds: list[dict] = []
        try:
            for entry in sorted(os.listdir(staging)):
                if not entry.startswith("key="):
                    continue
                key = entry[4:]
                tgt_dir = os.path.join(self.data_path, entry)
                os.makedirs(tgt_dir, exist_ok=True)
                for fn in sorted(os.listdir(os.path.join(staging, entry))):
                    if not fn.endswith(".parquet") or fn.startswith((".", "_")):
                        continue
                    new_name = f"{_uuid.uuid4().hex}.parquet"
                    try:
                        os.link(
                            os.path.join(staging, entry, fn),
                            os.path.join(tgt_dir, new_name),
                        )
                    except FileNotFoundError:
                        # review r14: a concurrent vacuum() rmdir's a key
                        # dir it just emptied — if that lands between our
                        # makedirs and this link, the link raises ENOENT
                        # and the whole write crashes.  Recreate and
                        # retry once; the dir cannot vanish again with
                        # our link present (vacuum only removes EMPTY
                        # dirs).
                        os.makedirs(tgt_dir, exist_ok=True)
                        os.link(
                            os.path.join(staging, entry, fn),
                            os.path.join(tgt_dir, new_name),
                        )
                    add = {"path": f"{entry}/{new_name}", "key": key}
                    st = _footer_stats(os.path.join(staging, entry, fn))
                    if st is not None:
                        add["stats"] = st
                    adds.append(add)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return adds

    # -------------------------------------------------------- interface

    def exists(self) -> bool:
        return bool(self._versions())

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        schema = self.table_schema(version)
        live = self._snapshot(version)
        if keys is not None:
            # the log's key fields are in the ESCAPED (on-disk) form
            wanted = {escape_partition_value(k) for k in keys}
            live = {p: k for p, k in live.items() if k in wanted}
        if not live:
            return spark.createDataFrame([], schema)
        paths = [os.path.join(self.data_path, p) for p in sorted(live)]
        # explicit logged schema: files written before a schema evolution
        # lack the newer columns — the parquet reader NULL-fills them, so
        # one snapshot can span schema versions (and time travel reads an
        # old version with its old, narrower schema)
        return (
            spark.read.schema(schema)
            .option("basePath", self.data_path)
            .parquet(*paths)
            .select([f.name for f in schema.fields])
        )

    def append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> None:
        """Append; with ``txn=(app_id, version)`` the append is EXACTLY
        ONCE under replays (Delta's txnAppId/txnVersion pattern): the
        commit records the (app, version) watermark, and a later append
        carrying a version <= the recorded watermark is skipped entirely
        — no staging, no commit, no dependence on a natural PK. This is
        what makes a foreachBatch sink transactional even when the
        stream dies between the sink's write and its checkpoint."""
        # list the tip BEFORE the watermark probe: the probe re-lists, so
        # it sees every commit <= validated_at — a replay that lands after
        # the probe is then > validated_at and lands in _commit's conflict
        # scan, which resolves the duplicate (the reverse order left a
        # window where a replay <= validated_at escaped both checks)
        vs = self._versions()
        validated_at = vs[-1] if vs else -1  # tip the validation sees
        if txn is not None and self.last_txn_version(txn[0]) >= int(txn[1]):
            return
        aligned, new_schema = self._reconcile(df)
        self._enforce_constraints(aligned)
        adds = self._stage(aligned)
        if adds or txn is not None:
            # an empty batch still commits when txn-tracked, so the
            # watermark advances and its replay is also skipped
            self._commit(
                "append",
                adds,
                remove_keys=None,
                txn=txn,
                schema=new_schema,
                validated_at=validated_at,
            )

    def last_txn_version(self, app_id: str) -> int:
        """Highest committed txn version for ``app_id`` (-1 if none).
        Checkpoint-resumed (the checkpoint's meta block carries the
        per-app watermark map the way Delta's does), so a long-lived
        foreachBatch sink pays O(interval) per idempotency probe."""
        return int(self._meta_replay()["txn"].get(app_id, -1))

    def overwrite_partitions(
        self, df: DataFrame, expected_keys: list[str] | None = None
    ) -> None:
        vs = self._versions()
        validated_at = vs[-1] if vs else -1
        aligned, new_schema = self._reconcile(df)
        self._enforce_constraints(aligned)
        adds = self._stage(aligned)
        # adds carry the staged (escaped) key form; expected_keys arrive
        # raw from the caller — escape before mixing the two
        touched = {a["key"] for a in adds} | {
            escape_partition_value(k) for k in (expected_keys or [])
        }
        if not touched:
            return
        # one atomic commit: new files in, every prior file of the
        # touched keys out — an emptied key is just "removes, no adds"
        self._commit(
            "overwrite",
            adds,
            remove_keys=touched,
            schema=new_schema,
            validated_at=validated_at,
        )

    def delete_partition(self, key: str) -> None:
        if self._snapshot():
            # the log's key fields are in the ESCAPED (on-disk) form
            self._commit(
                "delete", [], remove_keys={escape_partition_value(key)}
            )

    def key_files(self, key: str) -> list[str]:
        # the log's key fields are in the ESCAPED (on-disk) form
        esc = escape_partition_value(key)
        return sorted(p for p, k in self._snapshot().items() if k == esc)

    def file_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for _p, k in self._snapshot().items():
            raw = unescape_partition_value(k)  # callers speak raw keys
            out[raw] = out.get(raw, 0) + 1
        return out

    # ------------------------------------------------------- management

    def history(self) -> list[dict]:
        """Commit log, oldest first: version / op / adds / removes."""
        out = []
        for v in self._versions():
            e = self._read_entry(v)
            out.append(
                {
                    "version": v,
                    "op": e.get("op"),
                    "n_add": len(e.get("add", [])),
                    "n_remove": len(e.get("remove", [])),
                }
            )
        return out

    def vacuum(
        self, retain_versions: int = 0, min_age_sec: float = 600.0
    ) -> list[str]:
        """Physically delete data files not referenced by any snapshot
        newer than (latest - retain_versions). With the default 0, only
        the latest snapshot is retained — time travel to earlier
        versions stops working, which is the documented trade (Delta's
        VACUUM has the same contract). Returns deleted relative paths.

        ``min_age_sec`` is the uncommitted-writer grace period (Delta's
        mtime-based retention): a concurrent append has already staged
        (hard-linked) its files into data/ but not yet committed, so
        those files are in NO snapshot — deleting them would let the
        writer's commit land referencing paths that no longer exist,
        breaking every later read of the table.  Files younger than the
        window are skipped; pass 0 only when no writer can be active.

        A grace-window no-op is DISTINGUISHABLE from a clean table
        (ADVICE r8): ``self.last_vacuum_skipped_young`` records how many
        unreferenced-but-young files survived this call (also logged at
        INFO when non-zero), so a bare ``vacuum()`` right after writes
        returning ``[]`` is not mistaken for "nothing to reclaim"."""
        import logging as _logging
        import time as _time

        self.last_vacuum_skipped_young = 0
        versions = self._versions()
        if not versions:
            return []
        keep: set[str] = set()
        # clamp: a negative retain_versions would put the floor PAST the
        # latest version, retain nothing, and delete every live file
        floor = versions[-1] - max(0, retain_versions)
        # the loop's v >= floor range includes versions[-1], so the
        # retained window already covers the latest snapshot
        for v in versions:
            if v >= floor:
                keep |= set(self._snapshot(v))
        now = _time.time()
        deleted = []
        for entry in sorted(os.listdir(self.data_path)):
            if not entry.startswith("key="):
                continue
            d = os.path.join(self.data_path, entry)
            for fn in sorted(os.listdir(d)):
                rel = f"{entry}/{fn}"
                if fn.endswith(".parquet") and rel not in keep:
                    p = os.path.join(d, fn)
                    try:
                        if now - os.path.getmtime(p) < min_age_sec:
                            # possibly staged by a live writer — count
                            # it so callers can tell this apart from a
                            # genuinely clean table
                            self.last_vacuum_skipped_young += 1
                            continue
                    except OSError:
                        continue
                    os.unlink(p)
                    deleted.append(rel)
            if not os.listdir(d):
                os.rmdir(d)
        if self.last_vacuum_skipped_young:
            _logging.getLogger(__name__).info(
                "vacuum: %d unreferenced file(s) younger than %.0fs "
                "skipped (possible live writers); re-run after the "
                "grace window to reclaim them",
                self.last_vacuum_skipped_young, min_age_sec,
            )
        # Crash debris (review r14): a writer that died mid-_stage leaves
        # a full `_staging-<uuid>` copy of its batch under the table root
        # — OUTSIDE data/, so the key= walk above never reclaims it and a
        # long-running pipeline leaks a batch of disk per crash.  A
        # committer that died between writing `.tmp-*.json` and os.link
        # leaves the tmp entry in the log dir the same way.  Both are
        # invisible to every snapshot by construction, so age is the only
        # liveness signal — reuse the same grace window as data files.
        import shutil as _shutil

        for name in sorted(os.listdir(self.path)):
            if not name.startswith("_staging-"):
                continue
            p = os.path.join(self.path, name)
            try:
                if now - os.path.getmtime(p) < min_age_sec:
                    self.last_vacuum_skipped_young += 1
                    continue
            except OSError:
                continue
            _shutil.rmtree(p, ignore_errors=True)
        for name in sorted(os.listdir(self.log_path)):
            if not name.startswith(".tmp-") or not name.endswith(".json"):
                continue
            p = os.path.join(self.log_path, name)
            try:
                if now - os.path.getmtime(p) < min_age_sec:
                    self.last_vacuum_skipped_young += 1
                    continue
                os.unlink(p)
            except OSError:
                continue
        return deleted

    # ------------------------------------------------------------- merge

    def merge(
        self, batch: DataFrame, on: list[str]
    ) -> dict[str, int]:
        """MERGE INTO at FILE granularity — the Delta/Iceberg mapping
        from the module docstring made real: rows matching ``on`` are
        replaced by their batch row (WHEN MATCHED UPDATE), unmatched
        batch rows are inserted (WHEN NOT MATCHED INSERT), and ONLY the
        data files that actually contain a matched row are rewritten.
        Untouched files — including other files of the same key — keep
        their bytes; the whole mutation is one atomic log commit.

        Mechanics: read the snapshot with per-row file attribution
        (``input_file_name``), semi-join against the batch keys to find
        the affected files (collect is file-count-bounded metadata, not
        data), rewrite those files' unmatched rows plus the full batch,
        and commit adds + explicit file removes together. At 100 TB
        this touches O(files-with-matches), not O(table) — with a
        Z-order or key-sorted layout the matched rows concentrate in
        few files, which is the point of clustering.

        Returns {"files_rewritten": n, "files_added": m}."""
        spark = self.spark
        vs = self._versions()
        validated_at = vs[-1] if vs else -1
        live = self._snapshot()
        if not live:
            self.append(batch)
            return {"files_rewritten": 0, "files_added": len(self._snapshot())}

        # Attribute rows to files by BASENAME (<uuid>.parquet — unique by
        # construction, every staged file gets a fresh uuid4 name), not by
        # the key=<k>/ relative path: partition values needing escaping
        # (e.g. a space stored as %20 in the on-disk dir name) come back
        # DECODED from input_file_name(), so the path form mismatches the
        # log's escaped form while the basename is identical in both.
        base_expr = F.regexp_extract(F.input_file_name(), r"([^/]+\.parquet)$", 1)
        base_of = {rel.rsplit("/", 1)[-1]: rel for rel in live}
        existing = self.read(spark).withColumn("_file", base_expr)
        hit_rows = (
            existing.join(
                F.broadcast(batch.select(*on).distinct()), on, "left_semi"
            )
            .select("_file")
            .distinct()
            .collect()
        )
        hit_base = sorted({r["_file"] for r in hit_rows})
        missing = set(hit_base) - set(base_of)
        if missing:
            raise ValueError(f"stale file attribution: {sorted(missing)}")
        affected = sorted(base_of[b] for b in hit_base)

        # evolution applies to MERGE too: a batch carrying new columns
        # widens the table in the same atomic commit; kept rows from
        # rewritten files NULL-fill the new columns
        batch_aligned, new_schema = self._reconcile(batch)
        # kept rows were validated at their own write (and ADD CONSTRAINT
        # scans existing data), so enforcing the batch alone is complete
        self._enforce_constraints(batch_aligned)
        out_cols = [f.name for f in (new_schema or self.table_schema()).fields]
        if affected:
            keep = existing.filter(F.col("_file").isin(hit_base)).join(
                F.broadcast(batch.select(*on).distinct()), on, "left_anti"
            )
            new_data = keep.drop("_file").unionByName(
                batch_aligned, allowMissingColumns=True
            ).select(out_cols)
        else:
            new_data = batch_aligned.select(out_cols)

        adds = self._stage(new_data)
        self._commit(
            "merge",
            adds,
            remove_keys=None,
            extra_removes=affected,
            schema=new_schema,
            validated_at=validated_at,
        )
        return {"files_rewritten": len(affected), "files_added": len(adds)}

    def changes_between(
        self, spark: SparkSession, v_from: int, v_to: int,
        strict: bool = False,
    ) -> DataFrame:
        """Change data feed (Delta CDF-lite): the row-level delta between
        two committed versions, derived purely from the log — rows in
        files added in (v_from, v_to] surface as ``_change = 'insert'``,
        rows in files removed as ``_change = 'delete'``; an update
        appears as its delete+insert pair (the standard CDF encoding).
        File-granularity means no extra bookkeeping is written on the
        hot path — the feed is reconstructed on demand, and a rewrite
        that re-adds identical rows (compaction) nets out to
        delete+insert pairs a consumer can cancel by full-row equality.

        100 TB shape: reads only the files the interval's commits name,
        never the whole table; downstream incremental consumers (a
        search indexer, an aggregate maintainer) process O(changed
        files) per sync.

        ``strict=True`` raises :class:`VacuumedIntervalError` when any
        file the interval names has been vacuumed, instead of the
        default silently-read-what-survives (documented Delta behavior
        for CDF-from-files).  Incremental consumers whose correctness
        depends on a COMPLETE delta (the materialized-view maintainer)
        must pass it: a partial feed looks exactly like a quiet one."""
        added, removed = self.interval_file_changes(v_from, v_to)

        schema = self.table_schema(v_to)
        cols = [f.name for f in schema.fields]

        def _read_files(paths: dict[str, str]) -> DataFrame | None:
            live = [
                os.path.join(self.data_path, p)
                for p in sorted(paths)
                if os.path.exists(os.path.join(self.data_path, p))
            ]
            if strict and len(live) != len(paths):
                gone = sorted(
                    p for p in paths
                    if not os.path.exists(os.path.join(self.data_path, p))
                )
                raise VacuumedIntervalError(
                    f"CDF ({v_from}, {v_to}] references {len(gone)} "
                    f"vacuumed file(s), e.g. {gone[0]!r}: the delta "
                    f"would be silently incomplete"
                )
            if not live:
                return None
            return (
                spark.read.schema(schema)
                .option("basePath", self.data_path)
                .parquet(*live)
                .select(cols)
            )

        ins = _read_files(added)
        dels = _read_files(removed)
        empty = spark.createDataFrame([], schema).select(
            *cols, F.lit("insert").alias("_change")
        )
        out = empty.limit(0)
        if ins is not None:
            out = out.unionByName(ins.withColumn("_change", F.lit("insert")))
        if dels is not None:
            out = out.unionByName(dels.withColumn("_change", F.lit("delete")))
        return out

    def optimize(
        self,
        target_bytes: int = 128 << 20,
        min_files: int = 2,
        keys: list[str] | None = None,
    ) -> dict:
        """OPTIMIZE — bin-packing small-file compaction (the Delta
        ``OPTIMIZE`` analog named in the module docstring): streaming
        micro-batch appends accumulate many small files per key; this
        rewrites them into ~``target_bytes`` files as ONE snapshot-safe
        commit.  A reader pinned to any earlier version keeps seeing the
        original files (they are removed from the log, not from disk —
        ``vacuum`` reclaims them later), and a reader that resolves the
        snapshot mid-compaction sees either all-old or all-new, never a
        mix, because the swap is a single atomic log entry.

        Mechanics: per key, live files smaller than ``target_bytes`` are
        greedily grouped into bins totalling <= ``target_bytes`` (a key
        needs >= ``min_files`` such files to be worth touching); ONE
        Spark job reads every binned file, routes rows to their bin via
        file-name attribution, and writes one output file per bin; the
        commit records all adds plus the exact input files as removes.
        Row content is byte-identical in/out — compaction never changes
        query results, and the CDF view of the interval nets out to
        delete+insert pairs of equal rows (documented in
        ``changes_between``).

        100 TB shape: cost is O(bytes-in-small-files of the touched
        keys), never O(table); the commit is O(touched files) metadata.
        An interleaved commit on a compacted key raises
        ``ConcurrentWriteError`` (conservative: compaction loses races,
        real writes win).

        Returns {"files_compacted": n_in, "files_added": n_out,
        "bins": n_bins}."""
        from collections import defaultdict

        # pin the tip the live-file resolution sees: the compaction job
        # below can run for a long time, and without validated_at the
        # conflict scan starts at the post-job listing — a delete or
        # overwrite landing DURING the job would never be scanned, and
        # the commit would re-add rows it read from now-removed files
        # (silent resurrection).  Every other mutator pins this already.
        vs = self._versions()
        validated_at = vs[-1] if vs else -1
        live = self._snapshot()
        # Callers speak RAW keys; the snapshot speaks ESCAPED keys (the
        # on-disk directory form).  Escape at entry or a targeted
        # compaction of a key containing ':' '/' '#' silently no-ops —
        # the same raw/escaped boundary class fixed in delete_partition/
        # upsert/file_counts in r10 (review r11).
        if keys is not None:
            keys = {escape_partition_value(k) for k in keys}
        per_key: dict[str, list[tuple[str, int]]] = defaultdict(list)
        for rel, key in live.items():
            if keys is not None and key not in keys:
                continue
            p = os.path.join(self.data_path, rel)
            if not os.path.exists(p):
                continue
            sz = os.path.getsize(p)
            if sz < target_bytes:
                per_key[key].append((rel, sz))

        bins: list[list[str]] = []
        for key in sorted(per_key):
            files = sorted(per_key[key])
            if len(files) < min_files:
                continue
            cur: list[str] = []
            cur_sz = 0
            for rel, sz in files:
                if cur and cur_sz + sz > target_bytes:
                    bins.append(cur)
                    cur, cur_sz = [], 0
                cur.append(rel)
                cur_sz += sz
            if cur:
                bins.append(cur)
        # a 1-file bin would rewrite bytes for no layout gain
        bins = [b for b in bins if len(b) >= min_files]
        if not bins:
            return {"files_compacted": 0, "files_added": 0, "bins": 0}

        bin_of = {rel: i for i, b in enumerate(bins) for rel in b}
        all_inputs = sorted(bin_of)
        # basename attribution for the same escaped-partition-value reason
        # documented in merge(): input_file_name() returns decoded paths
        rel_expr = F.regexp_extract(F.input_file_name(), r"([^/]+\.parquet)$", 1)
        mapping = F.create_map(
            *[
                x
                for rel, i in sorted(bin_of.items())
                for x in (F.lit(rel.rsplit("/", 1)[-1]), F.lit(i))
            ]
        )
        schema = self.table_schema()
        df = (
            # explicit logged schema: bins may straddle a schema evolution
            self.spark.read.schema(schema)
            .option("basePath", self.data_path)
            .parquet(*[os.path.join(self.data_path, r) for r in all_inputs])
            .withColumn("_bin", mapping[rel_expr])
            .repartition(len(bins), "_bin")
            .drop("_bin")
            .select([f.name for f in schema.fields])
        )
        adds = self._stage(df)
        self._commit(
            "optimize",
            adds,
            remove_keys=None,
            extra_removes=all_inputs,
            validated_at=validated_at,
        )
        return {
            "files_compacted": len(all_inputs),
            "files_added": len(adds),
            "bins": len(bins),
        }

    def restore(self, version: int) -> dict:
        """RESTORE TABLE TO VERSION (Delta's RESTORE analog): make the
        CURRENT snapshot equal the snapshot at ``version`` with ONE
        metadata-only commit — files live then but removed since are
        re-added, files added since are removed, and the schema
        reverts to the target version's. No data is copied or rewritten;
        history is preserved (the restore is itself a new commit, so a
        restore can be restored away). Files physically deleted by
        ``vacuum`` since the target version cannot come back: restoring
        past a vacuum raises instead of silently resurrecting a partial
        snapshot.

        100 TB shape: O(|files in either snapshot|) metadata work, zero
        data movement — the same property that makes CLONE free."""
        # pin the tip the whole validation below reads: _commit conflict-
        # scans every commit PAST it, so a constraint or schema change
        # landing mid-restore forces a retry instead of being silently
        # restored over (the same TOCTOU closure as append/add_constraint)
        vs = self._versions()
        validated_at = vs[-1] if vs else -1
        target = self._snapshot(version)
        current = self._snapshot(
            version=validated_at if validated_at >= 0 else None
        )
        re_adds = {p: k for p, k in target.items() if p not in current}
        removes = [p for p in current if p not in target]
        gone = [
            p
            for p in re_adds
            if not os.path.exists(os.path.join(self.data_path, p))
        ]
        if gone:
            raise ValueError(
                f"cannot restore to version {version}: {len(gone)} files "
                f"were vacuumed (e.g. {gone[0]!r})"
            )
        cons = self.constraints(version=validated_at)
        tgt_schema = self.table_schema(version)
        if cons:
            # The restore keeps the active constraint set but reverts the
            # SCHEMA to the target version's — a constraint referencing a
            # column that does not exist there could never be evaluated
            # again (every later write would fail with a raw analysis
            # error): refuse up front, re-adds or not.
            probe = self.spark.createDataFrame([], tgt_schema)
            for name, expr in cons.items():
                try:
                    probe.select(F.expr(expr)).schema  # forces analysis
                except Exception as ex:
                    raise ConstraintViolationError(
                        f"cannot restore to version {version}: active "
                        f"constraint {name!r} ({expr}) is not evaluable "
                        f"against that version's schema — drop the "
                        f"constraint first ({ex})"
                    ) from ex
        # Files removed BEFORE an ADD CONSTRAINT were never scanned by
        # its validation — re-validate every re-added file against the
        # active set so the restored snapshot cannot silently violate an
        # active CHECK (round-6 advice #3).  O(|re-adds|) data read,
        # only when both constraints and re-adds exist.
        if cons and re_adds:
            paths = [
                os.path.join(self.data_path, p) for p in sorted(re_adds)
            ]
            readded_df = (
                self.spark.read.schema(tgt_schema)
                .option("basePath", self.data_path)
                .parquet(*paths)
            )
            self._enforce_constraints(readded_df)
        # carry the target version's stats so log-level skipping keeps
        # working on the restored files
        old_stats = self._snapshot_stats(version)
        adds = []
        for p, k in sorted(re_adds.items()):
            a = {"path": p, "key": k}
            if p in old_stats:
                a["stats"] = old_stats[p]
            adds.append(a)
        self._commit(
            "restore",
            adds,
            remove_keys=None,
            extra_removes=removes,
            schema=tgt_schema,
            validated_at=validated_at,
        )
        return {"files_readded": len(adds), "files_removed": len(removes)}

    def clone_to(self, dest_path: str) -> "TxnLogFormat":
        """Zero-copy CLONE (Delta SHALLOW/Iceberg snapshot-export
        analog): materialize the CURRENT snapshot as a brand-new table
        whose data files are HARD LINKS to this table's — no bytes
        copied, O(files) metadata work. The clone starts its own log at
        version 0 (one synthetic append of the linked files), after
        which the two tables diverge freely: immutable data files are
        never modified in place by either side, so shared inodes are
        safe, and each side's vacuum only unlinks its own directory
        entries (the inode lives until every link drops — the classic
        copy-on-write-without-the-copy trick cloud formats get from
        object-store references).

        100 TB note: on an object store this becomes metadata-only
        manifest copying; the hard link is the local-filesystem analog
        with the same O(files), zero-data-movement cost."""
        live, stats = self._replay()
        clone = TxnLogFormat(
            self.spark,
            dest_path,
            checkpoint_interval=self.checkpoint_interval,
            max_commit_retries=self.max_commit_retries,
        )
        adds = []
        for rel, key in sorted(live.items()):
            src = os.path.join(self.data_path, rel)
            dst = os.path.join(clone.data_path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(src, dst)
            a = {"path": rel, "key": key}
            if rel in stats:
                # carry per-file stats so log-level data skipping
                # (read_where_ts) keeps working on the clone
                a["stats"] = stats[rel]
            adds.append(a)
        if adds:
            # the clone's log starts fresh, so its first commit must carry
            # the source's (possibly evolved) schema explicitly
            clone._commit(
                "clone", adds, remove_keys=None, schema=self.table_schema()
            )
        # constraints carry over without re-validation (source data is
        # guaranteed to satisfy them)
        for name, expr in self.constraints().items():
            clone._commit_meta({"constraint_add": {"name": name, "expr": expr}})
        return clone
