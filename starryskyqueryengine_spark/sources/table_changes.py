"""TxnLogFormat change feed as a STREAMING source (Delta's
``spark.readStream.format("delta")`` + CDF analog).

``starrysky_table_changes`` tails the table's transaction log: every
committed version past the checkpointed offset becomes part of the next
micro-batch, surfacing file adds as ``_change = 'insert'`` rows and file
removes as ``_change = 'delete'`` rows, each tagged with
``_commit_version``. Offsets are log versions, so Spark's checkpoint IS
the consumer's cursor — kill the stream, append more commits, restart:
only the new commits replay (test-pinned).

Scale shape (the reason this is a full ``DataSourceStreamReader``, not
the Simple driver-side variant): the DRIVER only lists and parses the
JSON log (file-granularity metadata, KBs per thousand commits); each
changed data file becomes one ``InputPartition`` and is read
EXECUTOR-side via pyarrow — row bytes never pass through the driver.
Vacuumed files yield zero rows (the documented CDF-over-vacuum
behavior, matching ``TxnLogFormat.changes_between``).

Schema comes from the table's logged per-version StructType (schema
evolution aware): files written before a widening NULL-fill the newer
columns, and the partition column ``key`` — absent from data files, as
with any partitionBy layout — is injected from the log's add-action,
unescaped from the on-disk directory form.
"""

from __future__ import annotations

import os
from urllib.parse import unquote

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import POST_SCHEMA
from ..table_format import (
    DATA_DIR,
    LOG_DIR,
    log_versions,
    partition_key_of,
    read_log_entry,
)


def _table_schema(log_path: str) -> StructType:
    """Latest logged schema (no SparkSession needed — the log is JSON)."""
    for v in reversed(log_versions(log_path)):
        s = read_log_entry(log_path, v).get("schema")
        if s is not None:
            return StructType.fromJson(s)
    return POST_SCHEMA


def _schema_version_at(
    log_path: str, tip: int, cache: dict | None = None
) -> int:
    """Version of the newest schema-bearing commit at or below ``tip``
    (-1 if the log has never carried a schema).

    ``cache`` (a ``{"tip": v, "sv": v}`` dict owned by the caller)
    bounds the scan to entries NEWER than the last answer: without it a
    continuous stream over a long-lived table re-opened and JSON-parsed
    every commit from tip down to the last schema change on EVERY
    micro-batch — O(table history) driver I/O per trigger, since
    appends only log a schema when it changes."""
    lo = -1
    sv = -1
    if cache and cache.get("tip") is not None and cache["tip"] <= tip:
        lo, sv = cache["tip"], cache["sv"]
    for v in reversed(log_versions(log_path)):
        if v > tip:
            continue
        if v <= lo:
            break  # everything at or below lo already answered: sv
        if read_log_entry(log_path, v).get("schema") is not None:
            sv = v
            break
    if cache is not None:
        cache["tip"], cache["sv"] = tip, sv
    return sv


class _FileChange(InputPartition):
    def __init__(self, rel: str, key: str, change: str, version: int):
        self.rel = rel
        self.key = key
        self.change = change
        self.version = version


class TableChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self.table_path = options["path"]
        self.log_path = os.path.join(self.table_path, LOG_DIR)
        self.data_path = os.path.join(self.table_path, DATA_DIR)
        self.schema = schema
        self.start_version = int(options.get("start_version", -1))
        # reader-lifetime memo for _schema_version_at: bounds the
        # per-trigger log scan to commits newer than the last answer
        self._sv_cache: dict = {}

    # The evolution baseline is the version of the newest schema-bearing
    # commit visible when the STREAM first started, and it RIDES THE
    # OFFSETS: initialOffset() pins it, every later offset carries it
    # forward, and the checkpoint persists it — so a restart of an old
    # stream keeps the old baseline (and keeps failing on an evolution
    # it cannot represent, Delta's checkpoint-pinned-schema behavior)
    # while a FRESH stream over the same table re-pins at the current
    # schema and replays the whole history cleanly.  The baseline is
    # deliberately NOT ``self.schema``: that may be a user projection
    # (``.schema(subset)``), and the table's own historical
    # schema-bearing commits must not be misread as evolutions (read()
    # projects extra columns away for those on purpose).

    def initialOffset(self):
        vs = log_versions(self.log_path)
        tip = vs[-1] if vs else -1
        return {
            "version": self.start_version,
            "schema_v": _schema_version_at(
                self.log_path, tip, self._sv_cache
            ),
        }

    def latestOffset(self):
        vs = log_versions(self.log_path)
        tip = vs[-1] if vs else self.start_version
        # a batch only succeeds when every schema in range is compatible
        # with the start baseline, so advancing the carried baseline to
        # the newest schema ≤ tip never widens past what partitions()
        # just vetted
        return {
            "version": tip,
            "schema_v": _schema_version_at(
                self.log_path, tip, self._sv_cache
            ),
        }

    def _baseline_types(self, start) -> tuple[int, dict]:
        sv = start.get("schema_v")
        if sv is None:
            # pre-round-8 checkpoint without a carried baseline: pin at
            # the newest schema visible now (one-time adoption)
            sv = _schema_version_at(
                self.log_path,
                max(log_versions(self.log_path) or [-1]),
                self._sv_cache,
            )
        if sv < 0:
            base = _table_schema(self.log_path)  # POST_SCHEMA fallback
        else:
            base = StructType.fromJson(read_log_entry(self.log_path, sv)["schema"])
        return sv, {f.name: f.dataType for f in base.fields}

    def partitions(self, start, end):
        parts: list[_FileChange] = []
        baseline_v, base_types = self._baseline_types(start)
        for v in log_versions(self.log_path):
            if v <= start["version"] or v > end["version"]:
                continue
            e = read_log_entry(self.log_path, v)
            s = e.get("schema")
            if s is not None and v > baseline_v:
                # A commit PAST the pinned baseline logging a schema the
                # baseline cannot represent — a new column (which later
                # batches would silently drop from the output) or a
                # changed type — is an incompatible mid-stream
                # evolution: fail loudly (Delta's incompatible-schema-
                # change behavior) so the user restarts the stream WITH
                # A FRESH CHECKPOINT to pick up the new schema.
                # Schema-bearing commits AT or BELOW the baseline are
                # history — replayed fine, with narrower files
                # NULL-filled and extra columns projected away on read.
                for fld in StructType.fromJson(s).fields:
                    if (
                        fld.name not in base_types
                        or base_types[fld.name] != fld.dataType
                    ):
                        raise RuntimeError(
                            f"incompatible schema change at table version "
                            f"{v}: column {fld.name!r} "
                            f"({fld.dataType.simpleString()}) is not in "
                            f"the stream's start schema — restart the "
                            f"stream to pick up the evolved schema"
                        )
            for a in e.get("add", []):
                parts.append(_FileChange(a["path"], a["key"], "insert", v))
            for rm in e.get("remove", []):
                parts.append(_FileChange(rm, partition_key_of(rm), "delete", v))
        # Spark requires >= 1 partition per planned batch (a commit with
        # neither adds nor removes, e.g. a constraint change, still
        # advances the offset) — a zero-row sentinel covers it
        return parts or [_FileChange("", "", "none", end["version"])]

    def read(self, partition: _FileChange):
        """Executor-side file read, yielded as Arrow ``RecordBatch``es:
        the Python DataSource API accepts them directly, so row bytes
        go parquet -> Arrow -> JVM with ZERO per-row Python (the
        previous tuple yield built and pickled one Python tuple per
        row — at a 100 TB-scale replay that per-row loop, not the
        I/O, dominated).  Only the schema's data columns are read
        (column pruning at the parquet scan); the partition column
        ``key`` and the ``_change``/``_commit_version`` tags are
        constant-repeated Arrow arrays; pre-evolution files NULL-fill
        newer columns; every column is cast to the declared Arrow
        type so the JVM sees exactly the advertised schema."""
        if partition.change == "none":
            return
        path = os.path.join(self.data_path, partition.rel)
        if not os.path.exists(path):
            return  # vacuumed: CDF keeps whatever survives
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        pf = pq.ParquetFile(path)
        file_cols = set(pf.schema_arrow.names)
        special = {"key", "_change", "_commit_version"}
        wanted = [
            f.name
            for f in self.schema.fields
            if f.name not in special and f.name in file_cols
        ]
        key_val = unquote(partition.key)
        for b in pf.iter_batches(batch_size=1 << 16, columns=wanted):
            n = b.num_rows
            arrays = []
            for f in target:
                if f.name == "_change":
                    arrays.append(
                        pa.repeat(pa.scalar(partition.change, type=f.type), n)
                    )
                elif f.name == "_commit_version":
                    arrays.append(
                        pa.repeat(pa.scalar(partition.version, type=f.type), n)
                    )
                elif f.name == "key":
                    arrays.append(pa.repeat(pa.scalar(key_val, type=f.type), n))
                elif f.name in file_cols:
                    arrays.append(b.column(f.name).cast(f.type))
                else:  # pre-evolution file: NULL-fill the newer column
                    arrays.append(pa.nulls(n, type=f.type))
            yield pa.RecordBatch.from_arrays(arrays, schema=target)

    def commit(self, end):
        pass


class TableChangesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "starrysky_table_changes"

    def schema(self):
        base = _table_schema(
            os.path.join(self.options["path"], LOG_DIR)
        )
        from pyspark.sql.types import IntegerType

        return StructType(
            list(base.fields)
            + [
                StructField("_change", StringType()),
                StructField("_commit_version", IntegerType()),
            ]
        )

    def streamReader(self, schema: StructType):
        return TableChangesStreamReader(schema, self.options)


def register_table_changes_source(spark) -> None:
    spark.dataSource.register(TableChangesDataSource)
