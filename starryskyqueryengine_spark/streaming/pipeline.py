"""Structured Streaming building blocks (SURVEY §2.8, W1-W8).

The reference's firehose machinery maps 1:1 onto Spark primitives:

- W1 micro-batch trigger (setInterval reload)    -> trigger(processingTime/availableNow)
- W2 incremental catch-up (stored-URI watermark) -> source offsets + checkpoint;
  late-row handling improved via the PK anti-join (see ingest.py)
- W3 cursor checkpoint every 20 events           -> checkpointLocation (per micro-batch)
- W4 reconnect with delay                        -> built into Spark sources
- W5 per-event error isolation (try/catch-continue) -> PERMISSIVE parse +
  corrupt-record filter
- W6 CDC creates/deletes routing                 -> foreachBatch merge
- W7 retention cap per key                       -> window-rank eviction inside
  the batch hook
- W8 event-time + late data                      -> withWatermark + windowed aggs

Reference cites: ``src/util/subscription.ts:16-122``,
``src/subscription.ts:274-412``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from ..store import PostStore


def parquet_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source standing in for the firehose websocket
    (S4). New files appearing under ``path`` are new micro-batches; rate
    is capped with maxFilesPerTrigger (the reference's 100-page cap, T7).
    """
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def validated_json(
    df: DataFrame, json_col: str, schema: StructType, barrier: bool = False
) -> DataFrame:
    """S6/W5: lexicon-style record validation. PERMISSIVE parse + null
    filter = per-event try/catch-continue (poison pills dropped, stream
    survives), reference ``src/util/subscription.ts:42-46,147-170``.

    FOOTGUN when ``json_col`` is a COMPUTED expression (not a plain
    scanned/sourced column): the parse plan references the column ~6
    times (from_json duplicated across the corrupt filter and the
    projection by pushdown), and CollapseProject inlines the producer
    expression into every reference — measured 2x a whole query at
    bench scale for a regex-heavy producer.  Pass ``barrier=True`` to
    insert one narrow exchange so the references read an
    already-computed attribute; leave it False (default) for plain
    source columns, where the extra shuffle buys nothing."""
    from pyspark.sql.types import StringType, StructField

    if barrier:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)

    with_corrupt = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    parsed = df.withColumn(
        "_rec",
        F.from_json(
            F.col(json_col),
            with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    return parsed.filter(
        F.col("_rec").isNotNull() & F.col("_rec._corrupt_record").isNull()
    ).withColumn("_rec", F.col("_rec").dropFields("_corrupt_record"))


def stream_static_enrich(
    stream_df: DataFrame,
    static_df: DataFrame,
    on: list[str] | str,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static join: the streaming leg of S3's profile enrichment
    (reference builds a DID->profile Map and probes it per post,
    ``src/subscription.ts:241-268,336``; here each micro-batch hash-joins
    against the broadcast static side).

    Semantics worth knowing (and tested): Spark re-executes the STATIC
    side's scan per micro-batch, but the file *listing* is pinned in the
    plan's InMemoryFileIndex at definition time — an overwritten parquet
    dimension makes later batches fail with FILE_NOT_EXIST (and appended
    files are invisible).  For a slowly-changing dimension use
    :func:`foreach_batch_enrich` instead, which re-reads the dimension
    path fresh inside every micro-batch (the Spark-idiomatic SCD join for
    non-transactional file dims; table formats with snapshot isolation
    make the inline join safe, plain parquet does not).
    State: none (this is not a stream-stream join); pass
    ``broadcast_dim=False`` when the static side is NOT known to be
    broadcast-sized — the forced hint overrides AQE's sizing, so on a
    large dim it is a broadcast OOM where a hint-free join would fall
    back to shuffle (review r9; the same rule the batch catalog applies
    to SF-scaling sides).
    """
    keys = [on] if isinstance(on, str) else list(on)
    dim = F.broadcast(static_df) if broadcast_dim else static_df
    return stream_df.join(dim, keys, how)


def foreach_batch_enrich(
    spark,
    dim_path: str,
    on: list[str] | str,
    sink,
    how: str = "left",
):
    """Per-micro-batch SCD enrichment: returns a ``foreachBatch`` function
    that re-reads the dimension at ``dim_path`` at the START of each batch
    and broadcast-joins it onto the batch, then hands the enriched batch
    to ``sink(batch_df, batch_id)``.

    This is the streaming leg of S3's profile enrichment (reference
    ``src/subscription.ts:241-268,336``) for dimensions that are rewritten
    while the stream runs: each batch sees the dimension as of its own
    start, which is strictly fresher than the reference's process-lifetime
    memo Map.  Cost per batch is one dim scan + broadcast — sized for
    broadcast-small dims (the only kind a memo Map could hold either).
    """
    keys = [on] if isinstance(on, str) else list(on)

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        dim = spark.read.parquet(dim_path)
        sink(batch_df.join(F.broadcast(dim), keys, how), batch_id)

    return _fn


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """W8: event-time tumbling-window aggregation with a watermark; rows
    later than the watermark are dropped (the reference silently skips
    late rows at the catch-up point — same semantics, principled)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
            key_col,
            "n",
        )
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 day",
    slide: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding (overlapping) event-time windows: each event lands in
    width/slide windows, so the state store holds that many concurrent
    aggregates per key — still O(width/slide × keys), bounded, and the
    watermark finalizes each window exactly once.  The overlapping twin
    of :func:`windowed_counts` (which is the slide == width special
    case); the sliding form is what rate monitors and rolling SLO
    dashboards run."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window, slide).alias("win"),
            F.col(key_col),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            key_col,
            "n",
        )
    )


def session_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful streaming session windows: the same session_window
    operator the batch ``sessionize_native`` query uses, here driven by
    the streaming state store — events merge into a session while each
    arrives within ``gap`` of the window's end; a session finalizes (and
    emits, in append mode) once the watermark passes its end. This is
    the operator the reference's per-key stored-URI state (W2) grows up
    into at scale: per-key session state lives in the state store, not
    the driver."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap).alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_events",
        )
    )


def stream_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """In-stream exact dedup on ``keys`` — the state-store form of the
    reference's stored-URI membership set (J2/W2,
    src/subscription.ts:172-178,274-278). Without a watermark the seen-keys
    state grows forever (the reference has the same unbounded growth,
    capped only by retention); passing ``ts_col`` switches to
    dropDuplicatesWithinWatermark so state for keys older than the
    watermark is evicted — the only formulation that survives an
    unbounded stream. Downstream the PK anti-join upsert (J3/S8) still
    guards cross-restart duplicates."""
    if ts_col is None:
        return df.dropDuplicates(keys)
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    width_us: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each left row pairs with right rows
    whose event time falls in (left_ts - width_us, left_ts]. The
    streaming twin of operators/rangejoin.py, and the same rewrite makes
    it legal: Spark rejects stream-stream joins without an equality
    predicate, so both sides get a time-bucket key (exact integer `div`
    over epoch-micros, bucket size = the window width), the left side
    explodes into its <=2 covering buckets, and the join is equi on the
    bucket plus the exact range re-check. Watermarks + the event-time
    range condition let Spark evict join state once a row can no longer
    match — state is O(width x rate), not the stream so far."""
    l = left.withWatermark(left_ts, watermark).withColumn(
        "_bkt",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"(unix_micros({left_ts}) - {width_us}) div {width_us}"),
                    F.expr(f"unix_micros({left_ts}) div {width_us}"),
                )
            )
        ),
    )
    r = right.withWatermark(right_ts, watermark).withColumn(
        "_rbkt", F.expr(f"unix_micros({right_ts}) div {width_us}")
    )
    # instance-qualified refs: both streams may carry the SAME timestamp
    # column name (e.g. 'ts'), which bare F.col would resolve ambiguously
    cond = (
        (l["_bkt"] == r["_rbkt"])
        & (r[right_ts] > l[left_ts] - F.expr(f"INTERVAL {width_us} MICROSECOND"))
        & (r[right_ts] <= l[left_ts])
    )
    return l.join(r, cond, "inner").drop("_bkt", "_rbkt")


def stream_interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    width_us: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: like
    :func:`stream_interval_join`, plus every left row with no right row
    in its window surfaces once with NULL right columns — but only
    after the watermark proves no match can still arrive (Spark emits
    outer-join nulls on state eviction, the correctness condition for
    outer joins over unbounded streams).

    The bucket-key rewrite must flip sides for outer semantics: the
    inner variant explodes the LEFT row into its <=2 covering buckets,
    which would surface an unmatched left row once PER BUCKET with
    nulls. Here the RIGHT side explodes instead (a right row covers the
    buckets where a matching left could sit) and the left keeps its
    single bucket — each left row exists exactly once, so the unmatched
    case yields exactly one null row, and a matched pair still joins
    exactly once because the right row's two bucket replicas carry
    DIFFERENT bucket keys. State cost is unchanged: O(width x rate)
    after watermark eviction."""
    l = left.withWatermark(left_ts, watermark).withColumn(
        "_bkt", F.expr(f"unix_micros({left_ts}) div {width_us}")
    )
    r = right.withWatermark(right_ts, watermark).withColumn(
        "_rbkt",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"unix_micros({right_ts}) div {width_us}"),
                    F.expr(f"(unix_micros({right_ts}) + {width_us}) div {width_us}"),
                )
            )
        ),
    )
    cond = (
        (l["_bkt"] == r["_rbkt"])
        & (r[right_ts] > l[left_ts] - F.expr(f"INTERVAL {width_us} MICROSECOND"))
        & (r[right_ts] <= l[left_ts])
    )
    return l.join(r, cond, "left_outer").drop("_bkt", "_rbkt")


def foreach_batch_upsert(
    store: PostStore,
    limit_by_key: dict[str, int] | None = None,
    txn_app_id: str | None = None,
):
    """W6/W7/J3: the micro-batch sink hook. PK anti-join append (ON
    CONFLICT DO NOTHING) makes replayed batches idempotent across
    restarts; retention caps run inside the same hook so state never
    exceeds the window between checkpoints.

    With ``txn_app_id`` and a transactional format (TxnLogFormat), the
    sink is EXACTLY ONCE: each micro-batch commits tagged
    (txn_app_id, batch_id), and a replay of an already-committed batch
    id — the crash window between sink write and checkpoint — skips the
    physical write entirely (Delta's txnAppId/txnVersion idempotent-sink
    pattern)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        txn = (txn_app_id, batch_id) if txn_app_id is not None else None
        store.upsert(batch_df, txn=txn)
        if limit_by_key:
            store.apply_retention(limit_by_key)

    return apply


def cdc_apply_batch(store: PostStore):
    """W6: CDC routing — batch rows carry an ``_op`` column
    ('create'|'delete'); creates upsert, deletes remove their PK rows
    (reference routes ops by action in ``getOpsByType``,
    ``src/util/subscription.ts:91-118``).

    Intra-batch op ORDER is honored per PK (review r9): a micro-batch
    folds a sequence of ops into one frame, and the old
    creates-then-deletes application destroyed any same-batch
    delete->recreate (the standard update encoding) — the recreate's
    upsert hit ON CONFLICT DO NOTHING against the old row and the
    trailing delete then removed it.  Now deletes apply FIRST for every
    PK the batch deletes at all (so a recreate lands on a clean slot
    with its NEW content), and only each PK's FINAL op (by indexedAt;
    create outranks delete on a timestamp tie) decides whether a create
    is upserted — a create superseded by a later delete never
    resurrects.

    W6 contract: the batch MUST carry an ``indexedAt`` column (the op
    ordering key — the reference's ops arrive already ordered inside a
    commit, a DataFrame loses row order at the shuffle).  A delete with
    NULL ``indexedAt`` is treated as FINAL for its PK (r10, ADVICE):
    CDC deletes typically carry no record to stamp, so an unstamped
    delete must beat any stamped create in the batch — otherwise every
    create-then-delete sequence whose delete is unstamped would
    resurrect the row.  Producers that stamp every op get pure
    timestamp ordering; producers that never stamp deletes get
    delete-wins, matching the reference's deletes-are-terminal
    behavior (``src/util/subscription.ts:91-118`` emits a delete only
    for a record that existed)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        # Enforce the W6 contract LOUDLY (review r11): without this, a
        # producer whose batch lacks the column gets a raw
        # AnalysisException from the Window orderBy below, not the
        # contract error the docstring promises.
        if "indexedAt" not in batch_df.columns:
            raise ValueError(
                "cdc_apply_batch: W6 contract violation — the batch must "
                "carry an 'indexedAt' column (the per-PK op ordering "
                "key); a DataFrame loses row order at the shuffle, so op "
                "order cannot be inferred"
            )
        batch_df = batch_df.cache()
        try:
            deletes = (
                batch_df.filter(F.col("_op") == "delete")
                .select("uri", "key")
                .distinct()
            )
            w = Window.partitionBy("uri", "key").orderBy(
                # an UNSTAMPED delete is final (see contract above):
                # rank it ahead of every stamped op for the PK
                F.when(
                    (F.col("_op") == "delete") & F.col("indexedAt").isNull(), 1
                ).otherwise(0).desc(),
                F.col("indexedAt").desc_nulls_last(),
                # tie on event time: the create wins (delete->recreate
                # encodings often stamp both ops with one commit time)
                F.when(F.col("_op") == "create", 1).otherwise(0).desc(),
            )
            final_creates = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter((F.col("_rn") == 1) & (F.col("_op") == "create"))
                .drop("_rn", "_op")
            )
            if not deletes.isEmpty():
                store.delete_rows(deletes)
            if not final_creates.isEmpty():
                store.upsert(final_creates)
        finally:
            batch_df.unpersist()

    return apply


def drain_available_now(writer: DataStreamWriter, checkpoint_dir: str, timeout: int = 300) -> None:
    """Run a configured ``writeStream`` as an availableNow drain: every
    micro-batch currently available, then stop.

    Raises TimeoutError if the backlog outlives ``timeout``: callers
    read the sink right after this returns expecting the FULL drain
    applied, so a silent partial stop would hand them incomplete
    results while the still-active query keeps writing into the sink
    (the checkpoint keeps the committed prefix — a retry with a larger
    timeout resumes, never re-applies)."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    done = q.awaitTermination(timeout)
    if q.isActive:
        q.stop()
    if not done:
        raise TimeoutError(
            f"availableNow drain did not finish within {timeout}s — "
            f"committed micro-batches are checkpointed at "
            f"{checkpoint_dir}; retry with a larger timeout to resume"
        )


def run_available_now(stream_df: DataFrame, sink_fn, checkpoint_dir: str, timeout: int = 300) -> None:
    """W1: drain everything currently available through the
    ``foreachBatch`` hook ``sink_fn``, then stop (the batch-catch-up
    analog of the reference's cron reload); see
    :func:`drain_available_now` for the timeout contract."""
    drain_available_now(
        stream_df.writeStream.foreachBatch(sink_fn), checkpoint_dir, timeout
    )
