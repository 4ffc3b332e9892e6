"""Streaming catalog queries: real Structured Streaming runs (availableNow
drain) whose final state is compared against batch SQL oracles — the
strongest form of streaming correctness check the catalog has — plus the
ACID table lifecycle audits.

Each call does all its work (stream staging, checkpoint, sink output,
ACID table) inside one scratch directory and returns a frame that no
longer reads from it: memory-sink rows stay with the frame after the
sink's temp view is dropped, file-sink results are local checkpoints,
and the ACID audits return rows collected into Python. The directory is
removed before the call returns, so repeated runs are isolated and leave
nothing behind in the temp dir or the session catalog."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from .catalog import register
from .catalog_analytics import RANGE_WIDTH_US
from .schemas import POST_SCHEMA
from .session import scoped_shuffle_partitions
from .sources.fixtures import fixture_schema, load_table, normalize_events_ts
from .sources.table_changes import register_table_changes_source
from .store import PostStore
from .streaming import (
    foreach_batch_upsert,
    parquet_stream,
    run_available_now,
    session_counts,
    sliding_counts,
    stream_dedup,
    stream_interval_join,
    stream_interval_join_outer,
    stream_running_stats,
    windowed_counts,
)
from .streaming.pipeline import drain_available_now, stream_static_enrich
from .streaming.stateful import stream_pattern_matches
from .table_format import TxnLogFormat

# The stateful operators allocate one state-store instance per shuffle
# partition, fixed at the stream's first checkpoint; at fixture volume 64
# instances are pure per-task overhead (measured 2-7x the whole drain).
# A production stream sizes this to sustained throughput before its first
# start, so the drains scope it at the query edge, not in the session.
STREAM_SHUFFLE_PARTITIONS = 8
POST_COLS = POST_SCHEMA.fieldNames()


def _events_stream(spark, sf_dir, stage, schema=None):
    """Events fixture as a file stream. The file stream source requires a
    *directory*; the fixture file is linked into the new directory
    ``stage`` (no data copy). Pass ``schema`` to skip the schema lookup
    when staging the same fixture twice (stream-stream joins). ``ts``
    follows the shared recipe (sources/fixtures.py), so the batch oracles
    and this stream read event time identically."""
    os.makedirs(stage)
    os.symlink(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")
    if schema is None:
        schema = fixture_schema(spark, sf_dir, "events")
    return normalize_events_ts(parquet_stream(spark, stage, schema=schema)), schema


def _drain_to_memory(spark, df, output_mode, tmp):
    """Drain ``df`` into a memory sink (checkpoint under ``tmp``) and
    return its rows. The sink's temp view is dropped before returning:
    the frame holds the rows, so they are freed with it instead of
    staying in the session for good."""
    name = os.path.basename(tmp)
    with scoped_shuffle_partitions(spark, STREAM_SHUFFLE_PARTITIONS):
        drain_available_now(
            df.writeStream.outputMode(output_mode).format("memory").queryName(name),
            f"{tmp}/ckpt",
        )
    rows = spark.table(name)
    spark.catalog.dropTempView(name)
    return rows


def _drain_to_files(spark, df, sink, tmp):
    """Drain ``df`` through the ``foreachBatch`` hook ``sink`` with the
    checkpoint under ``tmp`` and the stateful drains' shuffle width."""
    with scoped_shuffle_partitions(spark, STREAM_SHUFFLE_PARTITIONS):
        run_available_now(df, sink, f"{tmp}/ckpt")


def _orders_posts(spark, sf_dir):
    """orders as POST_SCHEMA rows (uri and cid from the order key, key
    from the priority, indexedAt from the order date) plus the order key
    as ``k``: the input of the orders-based ACID and change-feed audits.
    The explicit schema skips a per-call footer inference."""
    orders = spark.read.schema(fixture_schema(spark, sf_dir, "orders")).parquet(
        os.path.join(sf_dir, "orders.parquet")
    )
    return orders.select(
        F.format_string("o:%09d", F.col("o_orderkey")).alias("uri"),
        F.col("o_orderpriority").alias("key"),
        F.format_string("c%09d", F.col("o_orderkey")).alias("cid"),
        F.lit(None).cast("string").alias("replyParent"),
        F.lit(None).cast("string").alias("replyRoot"),
        F.col("o_orderdate").alias("indexedAt"),
        F.col("o_orderkey").alias("k"),
    )


@register(
    "w1_stream_upsert",
    """
    SELECT 'ev:' || CAST(event_id AS VARCHAR) AS uri,
           event_type AS key,
           epoch_us(ts) AS ts_us
    FROM events
    """,
)
def w1_stream_upsert(spark, sf_dir):
    """W1/W2/W3/J3 end-to-end: the events fixture replayed as a stream,
    micro-batch upserted into a key-partitioned store via the PK
    anti-join sink, then the final store contents returned. Matching the
    batch oracle proves exactly-once upsert semantics across the
    stream/batch boundary."""
    with tempfile.TemporaryDirectory(prefix="w1_") as tmp:
        stream, _ = _events_stream(spark, sf_dir, f"{tmp}/events")
        posts = stream.select(
            F.concat(F.lit("ev:"), F.col("event_id").cast("string")).alias("uri"),
            F.col("event_type").alias("key"),
            F.format_string("c%09d", F.col("event_id")).alias("cid"),
            F.lit(None).cast("string").alias("replyParent"),
            F.lit(None).cast("string").alias("replyRoot"),
            F.col("ts").alias("indexedAt"),
        )
        store = PostStore(spark, f"{tmp}/store")
        _drain_to_files(spark, posts, foreach_batch_upsert(store), tmp)
        return store.read().select(
            "uri", "key", F.unix_micros("indexedAt").alias("ts_us")
        ).localCheckpoint(eager=True)


@register(
    "w2_stateful_running_stats",
    """
    SELECT event_type AS key, COUNT(*) AS n_total
    FROM events GROUP BY event_type
    """,
)
def w2_stateful_running_stats(spark, sf_dir):
    """A2/W2 as applyInPandasWithState: per-key cumulative counters kept
    in the state store. Drained availableNow in one batch, the final
    emission per key must equal the batch group-by — proving the state
    path computes the same totals the batch engine does."""
    with tempfile.TemporaryDirectory(prefix="w2_") as tmp:
        stream, _ = _events_stream(spark, sf_dir, f"{tmp}/events")
        posts = stream.select(F.col("event_type").alias("key"), F.col("ts").alias("indexedAt"))
        stats = _drain_to_memory(spark, stream_running_stats(posts), "update", tmp)
    return stats.select("key", "n_total")


@register(
    "w8_stream_tumbling_counts",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def w8_stream_tumbling_counts(spark, sf_dir):
    """W8: event-time tumbling-window aggregation with watermark, drained
    with availableNow in complete mode; the final window set must equal
    the batch group-by."""
    with tempfile.TemporaryDirectory(prefix="w8_") as tmp:
        stream, _ = _events_stream(spark, sf_dir, f"{tmp}/events")
        agg = windowed_counts(stream, ts_col="ts", key_col="event_type",
                              window="1 day", watermark="1 hour")
        return _drain_to_memory(spark, agg, "complete", tmp)


@register(
    "w_stream_interval_join",
    f"""
    WITH p AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT epoch_us(ts) AS ts_us FROM events
               WHERE event_type = 'click')
    SELECT p.event_id, CAST(count(*) AS BIGINT) AS n_in_range
    FROM p JOIN c
      ON c.ts_us > p.ts_us - {RANGE_WIDTH_US} AND c.ts_us <= p.ts_us
    GROUP BY p.event_id
    """,
)
def w_stream_interval_join(spark, sf_dir):
    """Stream-stream interval join, value-checked against the batch SQL
    ground truth: purchases and clicks arrive as two streams, pair up
    via the bucketed interval join (streaming/pipeline.py), and the
    drained pair set aggregates to exactly the batch range-join counts
    (inner-join form: only purchases with >= 1 click in the window).
    The strongest check available for a stateful stream-stream operator:
    same rows a batch engine would produce, computed with bounded join
    state."""
    with tempfile.TemporaryDirectory(prefix="wij_") as tmp:
        s1, schema = _events_stream(spark, sf_dir, f"{tmp}/events_p")
        s2, _ = _events_stream(spark, sf_dir, f"{tmp}/events_c", schema=schema)
        purchases = s1.filter(F.col("event_type") == "purchase").select(
            "event_id", F.col("ts").alias("p_ts")
        )
        clicks = s2.filter(F.col("event_type") == "click").select(
            F.col("ts").alias("c_ts")
        )
        joined = stream_interval_join(
            purchases, clicks, "p_ts", "c_ts", RANGE_WIDTH_US, watermark="1 hour"
        )
        # the final read names the partials schema, so an empty drain (no
        # pairs, or no batch at all) reads the bare directory as 0 rows
        out_dir = f"{tmp}/partials"
        os.makedirs(out_dir)

        # aggregate inside foreachBatch and append the per-batch partial
        # counts as parquet — the raw pair set never funnels through the
        # driver (a memory sink collects every row); partials sum to exact
        # totals because the join emits each pair exactly once
        def sink(bdf, _bid):
            (
                bdf.groupBy("event_id")
                .agg(F.count("*").alias("n"))
                .write.mode("append")
                .parquet(out_dir)
            )

        _drain_to_files(spark, joined, sink, tmp)
        return (
            spark.read.schema("event_id long, n long").parquet(out_dir)
            .groupBy("event_id")
            .agg(F.sum("n").cast("bigint").alias("n_in_range"))
            .localCheckpoint(eager=True)
        )


@register(
    "w_stream_sliding_counts",
    """
    WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type FROM events),
    wins AS (
      SELECT strftime(make_timestamp(
               (ts_us // 21600000000) * 21600000000
               - j.j * 21600000000), '%Y-%m-%d %H:%M:%S') AS win_start,
             event_type
      FROM e, (SELECT unnest(range(4)) AS j) j
    )
    SELECT win_start, event_type, count(*) AS n
    FROM wins GROUP BY win_start, event_type
    """,
)
def w_stream_sliding_counts(spark, sf_dir):
    """Sliding event-time windows (1 day wide, 6 h slide) as a REAL
    Structured Streaming drain, value-checked against a batch oracle
    that replays Spark's window assignment arithmetic exactly: every
    event belongs to width/slide = 4 epoch-aligned windows, start =
    floor(ts/slide)·slide − j·slide for j in 0..3 — pure integer
    microsecond math, so the streamed final state matches the SQL
    replay row-for-row.  State is O(4 × keys) per the sliding_counts
    docstring; complete-mode availableNow drain like w8."""
    with tempfile.TemporaryDirectory(prefix="wslide_") as tmp:
        stream, _ = _events_stream(spark, sf_dir, f"{tmp}/events")
        agg = sliding_counts(
            stream, ts_col="ts", key_col="event_type",
            window="1 day", slide="6 hours", watermark="1 hour",
        )
        return _drain_to_memory(spark, agg, "complete", tmp)


PATTERN_WIDTH_US = 6 * 3600 * 1_000_000  # dozens of matches per SF


@register(
    "w_stream_pattern_match",
    f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
      FROM events
    )
    SELECT p.user_id, p.event_id, p.ts_us
    FROM e p
    WHERE p.event_type = 'purchase'
      AND EXISTS (
        SELECT 1 FROM e v
        WHERE v.user_id = p.user_id AND v.event_type = 'view'
          AND v.ts_us < p.ts_us
          AND v.ts_us >= p.ts_us - {PATTERN_WIDTH_US}
      )
    """,
)
def w_stream_pattern_match(spark, sf_dir):
    """CEP sequence detection (view -> purchase within 6 h) as a REAL
    stateful stream (`streaming/stateful.py::stream_pattern_matches`),
    value-checked against the batch EXISTS-range oracle: every purchase
    the stream emits is exactly a purchase with a strictly-earlier view
    in its trailing window.  The stream's per-user state is the pruned
    list of recent view timestamps — O(window x rate), never history —
    making this the streaming twin of `funnel_view_click_purchase` /
    `range_join_click_attribution`, and the strongest check available
    for a custom applyInPandasWithState operator (bit-equal rows vs a
    batch engine)."""
    with tempfile.TemporaryDirectory(prefix="wpat_") as tmp:
        # the operator reads the ts_us _events_stream derives, so it follows
        # the same event-time recipe as the oracle for every fixture
        stream, _ = _events_stream(spark, sf_dir, f"{tmp}/events")
        matched = stream_pattern_matches(stream, within_us=PATTERN_WIDTH_US)
        return _drain_to_memory(spark, matched, "append", tmp)


# --------------------------------------------------------------------------
# ACID lifecycle audit: the TxnLogFormat surface (append / MERGE /
# partition delete / time travel / CDF) exercised end-to-end INSIDE a
# driver-checked query, so the ACID table format earns a value-exact
# correctness row rather than pytest-only coverage.
# --------------------------------------------------------------------------

_ACID_ORACLE = """
WITH base AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_i
  FROM events
),
s1 AS (SELECT * FROM base WHERE event_id < 4000),
s2 AS (
  SELECT event_id, event_type, value_i FROM s1 WHERE event_id < 2000
  UNION ALL
  SELECT event_id, event_type, value_i + 1000000 AS value_i
  FROM base WHERE event_id >= 2000 AND event_id < 6000
),
s3 AS (SELECT * FROM s2 WHERE event_type <> 'click')
SELECT CAST(1 AS BIGINT) AS step, 'append' AS op,
       (SELECT COUNT(*) FROM s1) AS n_rows,
       (SELECT CAST(COALESCE(SUM(value_i), 0) AS BIGINT) FROM s1) AS checksum,
       (SELECT COUNT(*) FROM s1) AS cdf_net_inserts,
       CAST(0 AS BIGINT) AS cdf_net_deletes
UNION ALL
SELECT CAST(2 AS BIGINT), 'merge',
       (SELECT COUNT(*) FROM s2),
       (SELECT CAST(COALESCE(SUM(value_i), 0) AS BIGINT) FROM s2),
       (SELECT COUNT(*) FROM (SELECT * FROM s2 EXCEPT ALL SELECT * FROM s1)),
       (SELECT COUNT(*) FROM (SELECT * FROM s1 EXCEPT ALL SELECT * FROM s2))
UNION ALL
SELECT CAST(3 AS BIGINT), 'delete',
       (SELECT COUNT(*) FROM s3),
       (SELECT CAST(COALESCE(SUM(value_i), 0) AS BIGINT) FROM s3),
       (SELECT COUNT(*) FROM (SELECT * FROM s3 EXCEPT ALL SELECT * FROM s2)),
       (SELECT COUNT(*) FROM (SELECT * FROM s2 EXCEPT ALL SELECT * FROM s3))
"""


@register("acid_table_audit", _ACID_ORACLE)
def acid_table_audit(spark, sf_dir):
    """ACID table lifecycle as a value-checked query: build a TxnLogFormat
    table from the events fixture in three commits — (1) bulk append,
    (2) file-granular MERGE INTO (2000 updates + 2000 inserts), (3)
    partition delete — then audit every committed version via TIME
    TRAVEL (``read(version=...)``) and the change data feed
    (``changes_between``).  The CDF is file-granular (a merge's
    rewritten files surface their untouched rows as delete+insert
    pairs), so the audit reports NET row changes after cancelling
    pairs by full row identity — which must equal the logical delta the
    relational oracle computes from the raw events. The fixed-point
    value checksum rides in the cid column (POST_SCHEMA tables), keeping
    every compared number an exact BIGINT.

    100 TB shape: every mutation is O(touched files) + one atomic log
    commit; time travel and CDF read only the files the interval's
    commits name. The per-version aggregates here are full-snapshot
    scans by design (it is an audit); the per-step collect is 1 row."""
    # the RAW frame through the fixture catalog's schema: ts stays in its
    # native representation (the normalized load_table form would change
    # indexedAt), and no per-call footer inference runs
    ev = spark.read.schema(fixture_schema(spark, sf_dir, "events")).parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    posts = ev.select(
        F.format_string("ev:%09d", F.col("event_id")).alias("uri"),
        F.col("event_type").alias("key"),
        F.format_string(
            "c%09d", F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
        ).alias("cid"),
        F.lit(None).cast("string").alias("replyParent"),
        F.lit(None).cast("string").alias("replyRoot"),
        F.col("ts").alias("indexedAt"),
        F.col("event_id"),
    )
    with tempfile.TemporaryDirectory(prefix="acid_") as tmp:
        fmt = TxnLogFormat(spark, f"{tmp}/table")
        fmt.append(posts.filter(F.col("event_id") < 4000).select(POST_COLS))
        v1 = fmt.history()[-1]["version"]
        batch = (
            posts.filter((F.col("event_id") >= 2000) & (F.col("event_id") < 6000))
            .withColumn(
                "cid",
                F.format_string(
                    "c%09d",
                    F.expr("CAST(substring(cid, 2) AS BIGINT) + 1000000"),
                ),
            )
            .select(POST_COLS)
        )
        fmt.merge(batch, on=["uri"])
        v2 = fmt.history()[-1]["version"]
        fmt.delete_partition("click")
        v3 = fmt.history()[-1]["version"]

        ident = ["uri", "key", "cid"]  # full row identity (no nullable cols)
        rows = []
        ops = ["append", "merge", "delete"]
        intervals = [(v1 - 1, v1), (v1, v2), (v2, v3)]
        for step, (va, vb) in enumerate(intervals, start=1):
            snap = fmt.read(spark, version=vb)
            agg = snap.agg(
                F.count("*").alias("n"),
                F.coalesce(
                    F.sum(F.expr("CAST(substring(cid, 2) AS BIGINT)")), F.lit(0)
                ).alias("chk"),
            ).head()
            cdf = fmt.changes_between(spark, va, vb).select(*ident, "_change")
            ins = cdf.filter(F.col("_change") == "insert").drop("_change")
            dels = cdf.filter(F.col("_change") == "delete").drop("_change")
            net_ins = ins.join(dels, on=ident, how="left_anti").count()
            net_del = dels.join(ins, on=ident, how="left_anti").count()
            rows.append(
                (step, ops[step - 1], agg["n"], int(agg["chk"]), net_ins, net_del)
            )
    return spark.createDataFrame(
        rows,
        "step bigint, op string, n_rows bigint, checksum bigint, "
        "cdf_net_inserts bigint, cdf_net_deletes bigint",
    )


SESSION_GAP_US_STREAM = 30 * 60 * 1_000_000


@register(
    "w_stream_session_counts",
    f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
    flagged AS (
      SELECT user_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w >= {SESSION_GAP_US_STREAM}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ),
    sess AS (
      SELECT user_id, ts_us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts_us) AS sess_start_us,
           MAX(ts_us) + {SESSION_GAP_US_STREAM} AS sess_end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def w_stream_session_counts(spark, sf_dir):
    """Stateful STREAMING session windows (the streaming twin of the
    batch ``sessionize_native`` query): events arrive as a stream, the
    session_window operator merges them in the state store, and the
    drained session set must equal classic batch gap-sessionization.

    Drain mechanics: complete mode (session windows support append and
    complete; update cannot be keyed because merges rewrite window
    boundaries) — the final memory-sink table is the full merged
    session set. Append mode would hold back each user's last session
    forever: its end never passes the final watermark. On an unbounded
    production stream the same plan runs append mode and trades that
    emission lag for state bounded by (open sessions) x keys."""
    with tempfile.TemporaryDirectory(prefix="wsess_") as tmp:
        stream, _ = _events_stream(spark, sf_dir, f"{tmp}/events")
        sess = session_counts(
            stream, ts_col="ts", key_col="user_id", gap="30 minutes", watermark="1 hour"
        )
        sess = _drain_to_memory(spark, sess, "complete", tmp)
    return sess.select(
        "user_id",
        F.unix_micros("win_start").alias("sess_start_us"),
        F.unix_micros("win_end").alias("sess_end_us"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


@register(
    "w_stream_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def w_stream_dedup(spark, sf_dir):
    """In-stream exact dedup with watermark-bounded state
    (dropDuplicatesWithinWatermark): the drained first-occurrence set
    projected to its key columns must equal batch DISTINCT. The
    watermark (90 days) exceeds the fixture's span so no state evicts
    mid-drain and the check is exact; on an unbounded stream the same
    operator holds only one watermark-width of seen keys — the
    state-bounded form of the reference's stored-URI membership set
    (J2/W2). Key-only projection keeps the result deterministic (which
    physical row is 'first' within a batch is not)."""
    with tempfile.TemporaryDirectory(prefix="wdedup_") as tmp:
        stream, _ = _events_stream(spark, sf_dir, f"{tmp}/events")
        deduped = stream_dedup(
            stream.select("user_id", "event_type", "ts"),
            keys=["user_id", "event_type"],
            ts_col="ts",
            watermark="90 days",
        ).select("user_id", "event_type")
        # the explicit read schema makes an empty drain a 0-row frame
        out_dir = f"{tmp}/out"
        os.makedirs(out_dir)
        _drain_to_files(
            spark, deduped, lambda bdf, _bid: bdf.write.mode("append").parquet(out_dir), tmp
        )
        # cross-batch safety: within-watermark duplicates are already
        # dropped by the operator; a distinct here collapses nothing on the
        # single-batch drain but keeps the contract under any batching
        return spark.read.schema(
            "user_id long, event_type string"
        ).parquet(out_dir).distinct().localCheckpoint(eager=True)


@register(
    "w_stream_static_enrich",
    """
    SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def w_stream_static_enrich(spark, sf_dir):
    """Stream-static enrichment join (the streaming form of S3/J1): the
    event stream joins a STATIC broadcast dimension inside each
    micro-batch — stateless, no watermark, the standard enrichment shape
    (Spark re-plans the static side per batch, so a slowly-refreshed dim
    table picks up updates between batches).  Per-batch enriched counts
    append as parquet partials; their sum must equal the batch join's
    group-by exactly — each event is enriched exactly once.

    100 TB shape: the dim side joins HINT-FREE — customer scales
    linearly with SF (~15B rows at 100 TB), so the per-batch planner
    broadcasts it only while it fits autoBroadcastJoinThreshold (always
    at bench scale) and shuffle-joins each micro-batch against the
    partitioned dim beyond that; no stream-side state either way."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    with tempfile.TemporaryDirectory(prefix="wenrich_") as tmp:
        stream, _ = _events_stream(spark, sf_dir, f"{tmp}/events")
        # broadcast_dim=False: customer scales with SF
        enriched = stream_static_enrich(
            stream, cust, "user_id", how="inner", broadcast_dim=False
        )
        # the explicit read schema makes an empty drain a 0-row frame
        out_dir = f"{tmp}/partials"
        os.makedirs(out_dir)

        def sink(bdf, _bid):
            (
                bdf.groupBy("c_mktsegment", "event_type")
                .agg(F.count("*").alias("n"))
                .write.mode("append")
                .parquet(out_dir)
            )

        _drain_to_files(spark, enriched, sink, tmp)
        return (
            spark.read.schema("c_mktsegment string, event_type string, n long")
            .parquet(out_dir)
            .groupBy("c_mktsegment", "event_type")
            .agg(F.sum("n").cast("bigint").alias("n"))
            .localCheckpoint(eager=True)
        )


def _stage_events_with_sentinels(stage: str, src: str, sentinel_id: int) -> None:
    """Link the events fixture ``src`` into the new directory ``stage``
    and add w_stream_outer_join's two far-future watermark sentinel
    files after it. ``src`` is one ``events.parquet`` file or the
    directory of part files tools/make_scale_fixture.py writes. The
    sentinels are built in-process with pyarrow, taking max(ts) from
    the parquet footer statistics (exact for timestamp columns), so no
    Spark job runs. Any other layout — another column set, a
    non-microsecond ``ts``, a row group without min/max — raises
    ValueError."""
    import datetime as dt
    import glob
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    expect = [
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ]
    files = sorted(glob.glob(f"{src}/*.parquet")) if os.path.isdir(src) else [src]
    schema, mx = None, None
    for path in files:
        pf = pq.ParquetFile(path)
        schema = pf.schema_arrow.remove_metadata()
        if [(f.name, f.type) for f in schema] != expect:
            raise ValueError(
                f"w_stream_outer_join: {path} has columns {schema}, "
                f"expected {expect}"
            )
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(1).statistics
            if st is None or not st.has_min_max:
                raise ValueError(
                    f"w_stream_outer_join: row group {rg} of {path} has no ts min/max"
                )
            mx = st.max if mx is None else max(mx, st.max)
    if mx is None:
        raise ValueError(f"w_stream_outer_join: no event rows under {src}")
    os.makedirs(stage)
    for i, path in enumerate(files):
        os.symlink(os.path.abspath(path), f"{stage}/a_{i:05d}.parquet")
    for i, days in enumerate((365, 366)):
        far = mx + dt.timedelta(days=days)
        tbl = pa.table(
            {
                "event_id": [sentinel_id + 2 * i, sentinel_id + 2 * i + 1],
                "ts": [far, far],
                "user_id": [0, 0],
                "event_type": ["purchase", "click"],
                "value": [0.0, 0.0],
                "props": ["{}", "{}"],
            },
            schema=schema,
        )
        tgt = f"{stage}/z_sentinel_{i}.parquet"
        pq.write_table(tbl, tgt)
        # the file source orders by mtime: each sentinel is its own
        # trigger, after every data file
        os.utime(tgt, (time.time() + 100 + 10 * i,) * 2)


@register(
    "w_stream_outer_join",
    f"""
    WITH p AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT epoch_us(ts) AS ts_us FROM events
               WHERE event_type = 'click')
    SELECT p.event_id, CAST(count(c.ts_us) AS BIGINT) AS n_in_range
    FROM p LEFT JOIN c
      ON c.ts_us > p.ts_us - {RANGE_WIDTH_US} AND c.ts_us <= p.ts_us
    GROUP BY p.event_id
    """,
)
def w_stream_outer_join(spark, sf_dir):
    """LEFT OUTER stream-stream interval join drained to the FULL batch
    left join (streaming/pipeline.py::stream_interval_join_outer — the
    right side explodes into its covering buckets so each unmatched
    purchase surfaces exactly once with NULL click columns).

    Outer rows only emit when the watermark PROVES no match can still
    arrive; at end-of-stream the engine would otherwise retain the
    tail's unmatched rows in state forever. The drain therefore appends
    two far-future sentinel files (later mtimes, one file per trigger):
    a purchase-typed and a click-typed sentinel per file, so BOTH
    streams' watermark nodes advance (global watermark = min over
    inputs). The watermark folds in one batch late, so the second
    sentinel batch and the engine's closing no-data micro-batch both run
    with it past every real window and flush the remaining state. Result == plain batch LEFT JOIN — exactly what
    the oracle runs; 194/202 zero-click purchases at sf0.001 prove the
    null path dominates, not the inner residue.

    PLAN CONSTRAINT: sentinels must be excluded AFTER the drain, in the batch read of the partials
    — any sentinel-excluding filter on the streaming result is legal to
    PUSH DOWN through the left-outer join into the left scan, where it
    silently drops the left sentinels BEFORE the watermark node and the
    outer rows never flush (observed: watermark frozen at
    real-max - delay forever).

    100 TB shape: join state is O(width x rate) after watermark
    eviction (bucket-equi keys keep the state store hash-partitioned);
    the raw pair set never funnels through the driver — per-batch
    partial counts append as parquet and a final sum merges them."""
    SENTINEL_ID = 10**12
    with tempfile.TemporaryDirectory(prefix="wsoj_") as tmp:
        stage = f"{tmp}/events"
        _stage_events_with_sentinels(stage, f"{sf_dir}/events.parquet", SENTINEL_ID)
        s = normalize_events_ts(
            parquet_stream(
                spark, stage, schema=fixture_schema(spark, sf_dir, "events"),
                max_files_per_trigger=1,
            )
        )
        purchases = s.filter(F.col("event_type") == "purchase").select(
            "event_id", F.col("ts").alias("p_ts")
        )
        clicks = s.filter(F.col("event_type") == "click").select(
            F.col("ts").alias("c_ts")
        )
        joined = stream_interval_join_outer(
            purchases, clicks, "p_ts", "c_ts", RANGE_WIDTH_US, watermark="90 days"
        )
        # the explicit read schema makes an empty drain a 0-row frame
        out_dir = f"{tmp}/partials"
        os.makedirs(out_dir)

        def sink(bdf, _bid):
            (
                bdf.groupBy("event_id")
                .agg(F.count("c_ts").alias("n"))
                .write.mode("append")
                .parquet(out_dir)
            )

        _drain_to_files(spark, joined, sink, tmp)
        return (
            spark.read.schema("event_id long, n long").parquet(out_dir)
            .filter(F.col("event_id") < SENTINEL_ID)
            .groupBy("event_id")
            .agg(F.sum("n").cast("bigint").alias("n_in_range"))
            .localCheckpoint(eager=True)
        )


@register(
    "acid_schema_evolution",
    """
    WITH o AS (SELECT o_orderkey AS k FROM orders),
    e AS (SELECT count(*) AS n_even FROM o WHERE k % 2 = 0),
    a AS (SELECT count(*) AS n_all FROM o),
    t AS (SELECT count(*) AS n_ten FROM o WHERE k % 10 = 0),
    s_odd AS (SELECT COALESCE(sum(k % 97), 0) AS s FROM o WHERE k % 2 = 1),
    s_ten AS (SELECT COALESCE(sum(k % 97), 0) AS s FROM o WHERE k % 10 = 0)
    SELECT CAST(step AS INTEGER) AS step, op,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_cols AS INTEGER) AS n_cols,
           CAST(qscore_nulls AS BIGINT) AS qscore_nulls,
           CAST(lang_nulls AS BIGINT) AS lang_nulls,
           CAST(qscore_sum AS BIGINT) AS qscore_sum
    FROM (
      SELECT 1 AS step, 'append' AS op, e.n_even AS n_rows, 6 AS n_cols,
             -1 AS qscore_nulls, -1 AS lang_nulls, -1 AS qscore_sum
      FROM e
      UNION ALL
      SELECT 2, 'append_evolve', a.n_all, 7, e.n_even, -1, s_odd.s
      FROM a, e, s_odd
      UNION ALL
      SELECT 3, 'merge_evolve', a.n_all, 8, e.n_even - t.n_ten,
             a.n_all - t.n_ten, s_odd.s + s_ten.s
      FROM a, e, t, s_odd, s_ten
    )
    """,
)
def acid_schema_evolution(spark, sf_dir):
    """Schema evolution as a value-checked lifecycle query (the
    driver-visible twin of test_table_format's evolution suite): build
    a TxnLogFormat table from orders in three commits — (1) base append
    (6 POST columns, even orderkeys), (2) appending the odd orderkeys
    WITH a new BIGINT ``qscore`` column (widens the table; prior rows
    read back NULL), (3) a file-granular MERGE whose batch carries a
    second new column ``lang`` (widens again; kept rows NULL-fill) —
    then audit every version via TIME TRAVEL. Step 1's snapshot must
    read back with the ORIGINAL 6-column schema even though it is read
    AFTER both evolutions (per-version schema resolution), and the
    NULL-backfill counts and exact BIGINT qscore sums must equal the
    closed-form replay the oracle computes from orders alone.

    100 TB shape: evolution is a metadata-only widening inside the same
    atomic commit as the data (no table rewrite, unlike
    ALTER TABLE + backfill); reads NULL-fill old files via the logged
    per-version StructType, so a petabyte of history is never
    rewritten to add a column."""
    posts = _orders_posts(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="acidse_") as tmp:
        fmt = TxnLogFormat(spark, f"{tmp}/table")
        fmt.append(posts.filter(F.col("k") % 2 == 0).select(POST_COLS))
        v1 = fmt.history()[-1]["version"]
        fmt.append(
            posts.filter(F.col("k") % 2 == 1)
            .withColumn("qscore", (F.col("k") % 97).cast("bigint"))
            .select(POST_COLS + ["qscore"])
        )
        v2 = fmt.history()[-1]["version"]
        fmt.merge(
            posts.filter(F.col("k") % 10 == 0)
            .withColumn("qscore", (F.col("k") % 97).cast("bigint"))
            .withColumn(
                "lang",
                F.element_at(
                    F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                    (F.col("k") % 3).cast("int") + 1,
                ),
            )
            .select(POST_COLS + ["qscore", "lang"]),
            on=["uri"],
        )
        v3 = fmt.history()[-1]["version"]

        ops = ["append", "append_evolve", "merge_evolve"]
        rows = []
        for step, v in enumerate((v1, v2, v3), start=1):
            snap = fmt.read(spark, version=v)
            aggs = [F.count("*").alias("n")]
            for c in ("qscore", "lang"):
                aggs.append(
                    F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}_nulls")
                    if c in snap.columns
                    else F.lit(-1).alias(f"{c}_nulls")
                )
            aggs.append(
                F.coalesce(F.sum("qscore"), F.lit(0)).alias("qsum")
                if "qscore" in snap.columns
                else F.lit(-1).alias("qsum")
            )
            r = snap.agg(*aggs).head()
            rows.append(
                (step, ops[step - 1], int(r["n"]), len(snap.columns),
                 int(r["qscore_nulls"]), int(r["lang_nulls"]), int(r["qsum"]))
            )
    return spark.createDataFrame(
        rows,
        "step int, op string, n_rows bigint, n_cols int, "
        "qscore_nulls bigint, lang_nulls bigint, qscore_sum bigint",
    )


@register(
    "table_changes_stream",
    """
    SELECT CAST(0 AS INTEGER) AS version, 'insert' AS change,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 1, 'insert', CAST(count(*) AS BIGINT),
           CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 2 = 1
    UNION ALL
    SELECT 2, 'delete', CAST(count(*) AS BIGINT),
           CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def table_changes_stream(spark, sf_dir):
    """The TxnLogFormat commit log consumed as a STREAM (Delta
    readStream + CDF analog, sources/table_changes.py): three commits —
    append evens, append odds, delete the 1-URGENT partition — then one
    availableNow drain of the ``starrysky_table_changes`` source, whose
    per-(version, change) counts and exact BIGINT orderkey sums must
    equal the closed-form replay from orders. Incremental consumption
    (a second drain replaying ONLY commits that landed in between) and
    schema-evolution NULL-fill are pinned by
    tests/test_paged_datasource.py::test_table_changes_stream_source.

    100 TB shape: the driver lists and parses only the JSON log
    (file-granularity metadata); every changed data file is one
    InputPartition read EXECUTOR-side via pyarrow — a downstream
    incremental consumer (indexer, aggregate maintainer) processes
    O(changed files) per sync and its checkpoint IS the cursor."""
    register_table_changes_source(spark)
    posts = _orders_posts(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="tcs_") as tmp:
        fmt = TxnLogFormat(spark, f"{tmp}/table")
        fmt.append(posts.filter(F.col("k") % 2 == 0).select(POST_COLS))
        fmt.append(posts.filter(F.col("k") % 2 == 1).select(POST_COLS))
        fmt.delete_partition("1-URGENT")

        stream = (
            spark.readStream.format("starrysky_table_changes")
            .option("path", f"{tmp}/table")
            .load()
        )
        # the explicit read schema makes an empty drain a 0-row frame
        out = f"{tmp}/rows"
        os.makedirs(out)
        _drain_to_files(
            spark, stream, lambda b, _i: b.write.mode("append").parquet(out), tmp
        )
        return (
            spark.read.schema(stream.schema).parquet(out)
            .groupBy(
                F.col("_commit_version").alias("version"),
                F.col("_change").alias("change"),
            )
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.expr("CAST(substring(cid, 2) AS BIGINT)"))
                .cast("bigint")
                .alias("key_sum"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "acid_restore_audit",
    """
    WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pr FROM orders),
    a AS (SELECT count(*) AS n_all, sum(k) AS s_all FROM o),
    u AS (SELECT count(*) AS n_urg, sum(k) AS s_urg FROM o
          WHERE pr = '1-URGENT')
    SELECT CAST(step AS INTEGER) AS step, op,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(key_sum AS BIGINT) AS key_sum
    FROM (
      SELECT 1 AS step, 'append' AS op, a.n_all AS n_rows,
             a.s_all AS key_sum FROM a
      UNION ALL
      SELECT 2, 'delete', a.n_all - u.n_urg, a.s_all - u.s_urg FROM a, u
      UNION ALL
      SELECT 3, 'restore', a.n_all, a.s_all FROM a
      UNION ALL
      SELECT 4, 'restore_away', a.n_all - u.n_urg, a.s_all - u.s_urg
      FROM a, u
    )
    """,
)
def acid_restore_audit(spark, sf_dir):
    """RESTORE as a value-checked lifecycle query: append all orders,
    delete the 1-URGENT partition, RESTORE to the pre-delete version
    (one metadata-only commit — the deleted files come back with zero
    data movement), then restore the restore away. Every step's snapshot
    is audited via time travel with exact BIGINT orderkey sums; history
    is preserved throughout (4 commits in the log, each step readable
    after the fact). The oracle replays the four logical states from
    orders alone.

    100 TB shape: both restores are O(|files in either snapshot|)
    metadata commits — rolling back a petabyte costs the same as
    rolling back a megabyte."""
    posts = _orders_posts(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="acidres_") as tmp:
        fmt = TxnLogFormat(spark, f"{tmp}/table")
        fmt.append(posts.select(POST_COLS))
        v1 = fmt.history()[-1]["version"]
        fmt.delete_partition("1-URGENT")
        v2 = fmt.history()[-1]["version"]
        fmt.restore(v1)
        v3 = fmt.history()[-1]["version"]
        fmt.restore(v2)
        v4 = fmt.history()[-1]["version"]

        ops = ["append", "delete", "restore", "restore_away"]
        rows = []
        for step, v in enumerate((v1, v2, v3, v4), start=1):
            r = fmt.read(spark, version=v).agg(
                F.count("*").alias("n"),
                F.coalesce(
                    F.sum(F.expr("CAST(substring(cid, 2) AS BIGINT)")), F.lit(0)
                ).alias("s"),
            ).head()
            rows.append((step, ops[step - 1], int(r["n"]), int(r["s"])))
    return spark.createDataFrame(
        rows, "step int, op string, n_rows bigint, key_sum bigint"
    )
