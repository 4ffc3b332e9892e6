"""Streaming tests (W1-W8): micro-batch upsert with checkpoint resume,
retention inside foreachBatch, watermark late-data behavior, CDC
creates/deletes, corrupt-record isolation."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from starryskyqueryengine_spark.schemas import POST_SCHEMA
from starryskyqueryengine_spark.store import PostStore
from starryskyqueryengine_spark.streaming import (
    cdc_apply_batch,
    foreach_batch_upsert,
    parquet_stream,
    run_available_now,
    validated_json,
    windowed_counts,
)


def posts_rows(spark, ids, key="k1", day=1):
    rows = [
        (f"p{i}", key, f"c{i:03d}", None, None, dt.datetime(2024, 1, day, 0, 0, i % 60))
        for i in ids
    ]
    return spark.createDataFrame(rows, POST_SCHEMA)


def test_w1_w3_upsert_with_checkpoint_resume(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = PostStore(spark, str(tmp_path / "store"))

    posts_rows(spark, range(10)).write.mode("append").parquet(src)
    stream = parquet_stream(spark, src, schema=POST_SCHEMA)
    run_available_now(stream, foreach_batch_upsert(store), ckpt)
    assert store.read().count() == 10

    # second file overlaps 5 ids: checkpoint resumes past file 1, the PK
    # anti-join absorbs the overlap (W2/W3 + J3)
    posts_rows(spark, range(5, 15)).write.mode("append").parquet(src)
    stream = parquet_stream(spark, src, schema=POST_SCHEMA)
    run_available_now(stream, foreach_batch_upsert(store), ckpt)
    assert store.read().count() == 15

    # re-run with nothing new: no-op
    stream = parquet_stream(spark, src, schema=POST_SCHEMA)
    run_available_now(stream, foreach_batch_upsert(store), ckpt)
    assert store.read().count() == 15


def test_w7_retention_inside_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "src")
    store = PostStore(spark, str(tmp_path / "store"))
    posts_rows(spark, range(20)).write.mode("append").parquet(src)
    stream = parquet_stream(spark, src, schema=POST_SCHEMA)
    run_available_now(stream, foreach_batch_upsert(store, {"k1": 5}), str(tmp_path / "c"))
    assert store.read_key("k1").count() == 5


def test_w6_cdc_creates_and_deletes(spark, tmp_path):
    src = str(tmp_path / "src")
    store = PostStore(spark, str(tmp_path / "store"))
    # note: StructType.add mutates in place — build a fresh schema
    cdc_schema = StructType(list(POST_SCHEMA.fields) + [StructField("_op", StringType())])

    batch1 = posts_rows(spark, range(5)).withColumn("_op", F.lit("create"))
    batch1.write.mode("append").parquet(src)
    stream = parquet_stream(spark, src, schema=cdc_schema)
    run_available_now(stream, cdc_apply_batch(store), str(tmp_path / "c1"))
    assert store.read().count() == 5

    b2_create = posts_rows(spark, [5]).withColumn("_op", F.lit("create"))
    b2_delete = posts_rows(spark, [1, 3]).withColumn("_op", F.lit("delete"))
    b2_create.unionByName(b2_delete).write.mode("append").parquet(src)
    stream = parquet_stream(spark, src, schema=cdc_schema)
    run_available_now(stream, cdc_apply_batch(store), str(tmp_path / "c1"))
    got = sorted(r["uri"] for r in store.read().collect())
    assert got == ["p0", "p2", "p4", "p5"]


def test_w5_corrupt_record_isolation(spark):
    schema = StructType(
        [StructField("a", IntegerType()), StructField("b", StringType())]
    )
    df = spark.createDataFrame(
        [('{"a": 1, "b": "x"}',), ("NOT JSON {{{",), ('{"a": 2, "b": "y"}',)],
        "payload string",
    )
    ok = validated_json(df, "payload", schema)
    assert [r["_rec"]["a"] for r in ok.collect()] == [1, 2]


def test_w8_watermark_finalizes_windows(spark, tmp_path):
    """W8 event-time semantics, as Spark actually guarantees them: a
    window is emitted (append mode) only after the watermark passes its
    end, and once finalized it is never re-emitted — a row arriving after
    finalization is silently dropped (the reference likewise skips rows
    older than its catch-up point, src/subscription.ts:274-278).

    Note Spark's watermark is a *finalization* bound, not a hard filter:
    a late row that arrives while its window is still in state DOES
    count. The sequence below places the late row after finalization.
    """
    import glob as globmod
    import shutil
    import tempfile
    import time

    src = tmp_path / "src"
    src.mkdir()

    def write_flat(df, name):
        # the file stream does not descend into *.parquet subdirectories
        # a spark write would create — move the part file in flat
        d = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(d)
        shutil.move(globmod.glob(d + "/part-*.parquet")[0], str(src / name))
        time.sleep(1.05)  # distinct modification times => batch order

    # batch 0: 3 rows on Jan 1, plus a Jan 3 row that advances the watermark
    write_flat(
        posts_rows(spark, [0, 1, 2], day=1).unionByName(posts_rows(spark, [9], day=3)),
        "f1.parquet",
    )
    # batch 1: dummy Jan 3 row -> Jan 1 window finalized + emitted (n=3)
    write_flat(posts_rows(spark, [8], day=3), "f2.parquet")
    # batch 2: LATE Jan 1 row, after finalization -> dropped forever
    write_flat(posts_rows(spark, [5], day=1), "f3.parquet")

    stream = parquet_stream(spark, str(src), schema=POST_SCHEMA, max_files_per_trigger=1)
    agg = windowed_counts(stream, ts_col="indexedAt", key_col="key",
                          window="1 day", watermark="1 hour")
    sink: list = []

    def collect_batch(bdf, bid):
        sink.extend(bdf.collect())

    q = (
        agg.writeStream.foreachBatch(collect_batch)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    jan1 = [r for r in sink if r["day"] == "2024-01-01"]
    # exactly one finalized emission, counting only the on-time rows;
    # the post-finalization row never produces a second emission
    assert len(jan1) == 1 and jan1[0]["n"] == 3


# --- applyInPandasWithState custom stateful operators ---------------------

def _run_update_stream(spark, df, table, ckpt):
    q = (
        df.writeStream.outputMode("update")
        .format("memory")
        .queryName(table)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(table)


def test_stateful_running_stats_accumulates_across_batches(spark, tmp_path):
    from starryskyqueryengine_spark.streaming import stream_running_stats

    src = str(tmp_path / "src")
    posts_rows(spark, range(10), key="a").write.mode("append").parquet(src)
    posts_rows(spark, range(5), key="b").write.mode("append").parquet(src)

    collected: list = []

    def sink(batch_df, batch_id):
        collected.extend(batch_df.collect())

    def drain():
        stream = parquet_stream(spark, src, schema=POST_SCHEMA, max_files_per_trigger=1)
        out = stream_running_stats(stream.select("key", "indexedAt"))
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "c1"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    final = {r["key"]: r["n_total"] for r in sorted(collected, key=lambda r: r["n_total"])}
    assert final["a"] == 10 and final["b"] == 5

    # a second drain with MORE data resumes state from the checkpoint
    collected.clear()
    posts_rows(spark, range(10, 30), key="a").write.mode("append").parquet(src)
    drain()
    totals = {r["key"]: r["n_total"] for r in collected}
    assert totals["a"] == 30  # 10 from state + 20 new


def test_stateful_topk_retention_bounds_state(spark, tmp_path):
    from starryskyqueryengine_spark.streaming import stream_topk_retention

    src = str(tmp_path / "src")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    posts_rows(spark, range(20), key="a", day=1).write.mode("append").parquet(src)
    posts_rows(spark, range(100, 110), key="a", day=2).write.mode("append").parquet(src)

    stream = parquet_stream(spark, src, schema=POST_SCHEMA, max_files_per_trigger=1)
    out = stream_topk_retention(stream.select("key", "uri", "indexedAt"), k=8)
    res = _run_update_stream(spark, out, "topkret", str(tmp_path / "c2"))
    # the last batch's emission is the surviving set: 8 newest overall,
    # all from day 2 (10 rows) -> the 8 newest of those
    import pandas as pd

    pdf = res.toPandas()
    last = pdf[pdf["ts_us"] >= pdf["ts_us"].max() - 60_000_000]
    assert len(last) >= 8
    survivors = pdf.sort_values("ts_us", ascending=False).head(8)
    assert all(u.startswith("p10") for u in survivors["uri"])


def test_streaming_session_windows(spark, tmp_path):
    """Stateful session windows in a real stream: events within the gap
    merge into one session (state-store backed), sessions finalize only
    after the watermark passes their end, and a session still in state
    never emits in append mode."""
    import glob as globmod
    import shutil
    import tempfile
    import time

    from starryskyqueryengine_spark.streaming import session_counts

    src = tmp_path / "sess_src"
    src.mkdir()

    def write_flat(df, name):
        d = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(d)
        shutil.move(globmod.glob(d + "/part-*.parquet")[0], str(src / name))
        time.sleep(1.05)

    def rows(spec):
        data = [
            (uid, dt.datetime(2024, 1, day, hh, mm, 0))
            for uid, day, hh, mm in spec
        ]
        return spark.createDataFrame(data, "user_id long, ts timestamp")

    # u1: 00:00/00:10/00:20 merge (one session); 02:00 is a second session.
    # u2: a single event.
    write_flat(
        rows([(1, 1, 0, 0), (1, 1, 0, 10), (1, 1, 0, 20), (1, 1, 2, 0), (2, 1, 0, 0)]),
        "f1.parquet",
    )
    # far-future row advances the watermark past every u1/u2 session end,
    # flushing them; its own session stays open (must NOT emit)
    write_flat(rows([(99, 5, 0, 0)]), "f2.parquet")

    schema = spark.read.parquet(str(src / "f1.parquet")).schema
    stream = parquet_stream(spark, str(src), schema=schema, max_files_per_trigger=1)
    agg = session_counts(stream, ts_col="ts", key_col="user_id",
                         gap="30 minutes", watermark="1 hour")
    sink: list = []

    q = (
        agg.writeStream.foreachBatch(lambda bdf, bid: sink.extend(bdf.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = sorted(
        (r["user_id"], r["win_start"].isoformat(), r["win_end"].isoformat(), r["n_events"])
        for r in sink
    )
    assert got == [
        (1, "2024-01-01T00:00:00", "2024-01-01T00:50:00", 3),
        (1, "2024-01-01T02:00:00", "2024-01-01T02:30:00", 1),
        (2, "2024-01-01T00:00:00", "2024-01-01T00:30:00", 1),
    ]


def test_stream_dedup_within_watermark(spark, tmp_path):
    """In-stream dedup drops repeats of a key while its state is inside
    the watermark, across micro-batches; state for expired keys is
    evicted (a repeat arriving after expiry passes through again —
    bounded state is the price of an unbounded stream)."""
    import glob as globmod
    import shutil
    import tempfile
    import time

    from starryskyqueryengine_spark.streaming import stream_dedup

    src = tmp_path / "dd_src"
    src.mkdir()

    def write_flat(df, name):
        d = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(d)
        shutil.move(globmod.glob(d + "/part-*.parquet")[0], str(src / name))
        time.sleep(1.05)

    def rows(spec):
        return spark.createDataFrame(
            [(u, dt.datetime(2024, 1, day, h, 0, 0)) for u, day, h in spec],
            "uri string, ts timestamp",
        )

    # batch 0: a + duplicate a (same batch) + b
    write_flat(rows([("a", 1, 0), ("a", 1, 0), ("b", 1, 1)]), "f1.parquet")
    # batch 1: duplicate a within watermark -> dropped; c advances time
    write_flat(rows([("a", 1, 2), ("c", 1, 3)]), "f2.parquet")
    # batch 2: d pushes the watermark (7h - 2h = 5h) past a's expiry
    # (last dup 2h + 2h delay = 4h)
    write_flat(rows([("d", 1, 7)]), "f3.parquet")
    # batch 3: state eviction happens at the END of the batch that runs
    # with the advanced watermark — e's batch is where a is evicted
    write_flat(rows([("e", 1, 8)]), "f4.parquet")
    # batch 4: duplicate of a, after its state expired -> passes again
    write_flat(rows([("a", 9, 0)]), "f5.parquet")

    schema = spark.read.parquet(str(src / "f1.parquet")).schema
    stream = parquet_stream(spark, str(src), schema=schema, max_files_per_trigger=1)
    deduped = stream_dedup(stream, ["uri"], ts_col="ts", watermark="2 hours")
    sink: list = []
    q = (
        deduped.writeStream.foreachBatch(lambda bdf, bid: sink.extend(bdf.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted((r["uri"], r["ts"].isoformat()) for r in sink)
    assert got == [
        ("a", "2024-01-01T00:00:00"),
        ("a", "2024-01-09T00:00:00"),
        ("b", "2024-01-01T01:00:00"),
        ("c", "2024-01-01T03:00:00"),
        ("d", "2024-01-01T07:00:00"),
        ("e", "2024-01-01T08:00:00"),
    ]


def test_streaming_multifeed_ingest_end_to_end(spark, tmp_path):
    """The reference's whole cron loop as a stream: posts arrive in
    micro-batches, foreachBatch runs IngestJob.run_once (all feed
    predicates in one scan -> PK anti-join upsert -> retention), and the
    final store equals what one batch run over all posts would produce
    — including dedup of a post replayed across micro-batches."""
    import glob as globmod
    import shutil
    import tempfile
    import time

    from starryskyqueryengine_spark.config import ConditionsRegistry, FeedCondition
    from starryskyqueryengine_spark.ingest import IngestJob
    from starryskyqueryengine_spark.schemas import INGEST_POST_SCHEMA
    from tests.conftest import make_posts, ts

    src = tmp_path / "mf_src"
    src.mkdir()

    def write_flat(df, name):
        d = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(d)
        shutil.move(globmod.glob(d + "/part-*.parquet")[0], str(src / name))
        time.sleep(1.05)

    def posts(specs):
        return make_posts(
            spark,
            [
                {"uri": f"at://u/p/{i}", "cid": f"c{i:03d}", "text": text,
                 "createdAt": ts(f"2024-01-01T00:{i:02d}:00")}
                for i, text in specs
            ],
        )

    # batch 0: spark x2, data x1; batch 1: replays uri 0 + new posts
    write_flat(posts([(0, "spark rocks"), (1, "data rocks"), (2, "spark again")]), "f1.parquet")
    write_flat(posts([(0, "spark rocks"), (3, "more data"), (4, "spark plus data")]), "f2.parquet")

    reg = ConditionsRegistry()
    reg.upsert(FeedCondition(key="sparkfeed", recordName="sparkfeed", inputRegex="spark"))
    reg.upsert(FeedCondition(key="datafeed", recordName="datafeed", inputRegex="data"))
    from starryskyqueryengine_spark.store import PostStore

    store = PostStore(spark, str(tmp_path / "mf_store"))
    job = IngestJob(spark, reg, store)

    stream = parquet_stream(spark, str(src), schema=INGEST_POST_SCHEMA,
                            max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(lambda bdf, bid: job.run_once(bdf))
        .option("checkpointLocation", str(tmp_path / "mf_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = sorted((r["key"], r["uri"]) for r in store.read().select("key", "uri").collect())
    assert got == [
        ("datafeed", "at://u/p/1"),
        ("datafeed", "at://u/p/3"),
        ("datafeed", "at://u/p/4"),
        ("sparkfeed", "at://u/p/0"),
        ("sparkfeed", "at://u/p/2"),
        ("sparkfeed", "at://u/p/4"),
    ]
    # stats carried across micro-batches
    assert reg.get("sparkfeed").recordCount == 3
    assert reg.get("datafeed").recordCount == 3


def test_stream_interval_join(spark, tmp_path):
    """Stream-stream interval join: purchases pair with clicks from the
    preceding 10 minutes, across micro-batch boundaries, with watermarks
    bounding the join state. The batch twin (operators/rangejoin.py) is
    oracle-checked; this pins the streaming semantics on a hand-built
    sequence."""
    import glob as globmod
    import shutil
    import tempfile
    import time

    from starryskyqueryengine_spark.streaming import stream_interval_join

    csrc, psrc = tmp_path / "clicks", tmp_path / "purch"
    csrc.mkdir(); psrc.mkdir()

    def write_flat(df, dirpath, name):
        d = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(d)
        shutil.move(globmod.glob(d + "/part-*.parquet")[0], str(dirpath / name))
        time.sleep(1.05)

    def rows(kind, spec):
        return spark.createDataFrame(
            [(f"{kind}{i}", dt.datetime(2024, 1, 1, 0, mm, 0)) for i, mm in spec],
            f"{kind}_id string, {kind}_ts timestamp",
        )

    # clicks at :00 :05 :11; purchases at :08 (matches :00,:05) and
    # :20 (matches :11 only — :05 is 15 min earlier, outside the window)
    write_flat(rows("c", [(1, 0), (2, 5)]), csrc, "f1.parquet")
    write_flat(rows("c", [(3, 11)]), csrc, "f2.parquet")
    write_flat(rows("p", [(1, 8)]), psrc, "f1.parquet")
    write_flat(rows("p", [(2, 20)]), psrc, "f2.parquet")

    cs = parquet_stream(spark, str(csrc), schema=spark.read.parquet(str(csrc / "f1.parquet")).schema)
    ps = parquet_stream(spark, str(psrc), schema=spark.read.parquet(str(psrc / "f1.parquet")).schema)
    joined = stream_interval_join(ps, cs, "p_ts", "c_ts", 10 * 60 * 1_000_000,
                                  watermark="30 minutes")
    sink: list = []
    q = (
        joined.writeStream.foreachBatch(lambda bdf, bid: sink.extend(bdf.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ij_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted((r["p_id"], r["c_id"]) for r in sink)
    assert got == [("p1", "c1"), ("p1", "c2"), ("p2", "c3")]


def test_stream_interval_join_same_named_ts_columns(spark):
    """Both sides may keep their source column name (e.g. 'ts'): the
    join condition uses instance-qualified references, so same-named
    timestamp columns resolve without ambiguity. (Batch DataFrames:
    withWatermark is a no-op, join semantics identical.)"""
    from starryskyqueryengine_spark.streaming import stream_interval_join

    left = spark.createDataFrame(
        [("p1", dt.datetime(2024, 1, 1, 0, 8))], "pid string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("c1", dt.datetime(2024, 1, 1, 0, 0)),
         ("c2", dt.datetime(2024, 1, 1, 0, 20))],
        "cid string, ts timestamp",
    )
    out = stream_interval_join(left, right, "ts", "ts", 10 * 60 * 1_000_000)
    assert sorted((r["pid"], r["cid"]) for r in out.collect()) == [("p1", "c1")]


def test_stream_interval_join_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume proof for the bucketed interval-join state: drain
    the first half of each stream, stop the query, append more files,
    then start a NEW query on the SAME checkpoint. The resumed query
    must join late purchases against clicks it saw before the restart,
    and the union of both drains' emissions must equal the single-run
    pair set exactly (no loss, no duplicates)."""
    import glob as globmod
    import shutil
    import tempfile
    import time

    from starryskyqueryengine_spark.streaming import stream_interval_join

    csrc, psrc = tmp_path / "clicks", tmp_path / "purch"
    csrc.mkdir(); psrc.mkdir()

    def write_flat(df, dirpath, name):
        d = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(d)
        shutil.move(globmod.glob(d + "/part-*.parquet")[0], str(dirpath / name))
        time.sleep(1.05)

    def rows(kind, spec):
        return spark.createDataFrame(
            [(f"{kind}{i}", dt.datetime(2024, 1, 1, 0, mm, 0)) for i, mm in spec],
            f"{kind}_id string, {kind}_ts timestamp",
        )

    sink: list = []

    def drain():
        cs = parquet_stream(spark, str(csrc), schema=rows("c", []).schema)
        ps = parquet_stream(spark, str(psrc), schema=rows("p", []).schema)
        joined = stream_interval_join(
            ps, cs, "p_ts", "c_ts", 10 * 60 * 1_000_000, watermark="30 minutes"
        )
        q = (
            joined.writeStream.foreachBatch(lambda bdf, bid: sink.extend(bdf.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ij_resume_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # drain 1: clicks at :00 :05, purchase at :08 -> (p1,c1) (p1,c2)
    write_flat(rows("c", [(1, 0), (2, 5)]), csrc, "f1.parquet")
    write_flat(rows("p", [(1, 8)]), psrc, "f1.parquet")
    drain()
    assert sorted((r["p_id"], r["c_id"]) for r in sink) == [("p1", "c1"), ("p1", "c2")]

    # restart: click at :11 and purchase at :12 arrive after the stop.
    # p2@:12 matches c3@:11 AND pre-restart c2@:05 (7 min earlier) — the
    # second pair only exists if the click state survived the restart.
    write_flat(rows("c", [(3, 11)]), csrc, "f2.parquet")
    write_flat(rows("p", [(2, 12)]), psrc, "f2.parquet")
    drain()
    got = sorted((r["p_id"], r["c_id"]) for r in sink)
    assert got == [
        ("p1", "c1"), ("p1", "c2"), ("p2", "c2"), ("p2", "c3"),
    ], got
    assert len(got) == len(set(got)), "duplicate pairs after resume"


def test_stateful_topk_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume proof for the bounded top-k state: after a
    restart from checkpoint, the survivor set must mix pre-restart state
    (day-1 rows) with post-restart arrivals (day-2 rows) — k exceeds the
    day-2 count, so day-1 entries can only come from restored state."""
    from starryskyqueryengine_spark.streaming import stream_topk_retention

    src = str(tmp_path / "src")
    batches: list = []

    def drain():
        stream = parquet_stream(spark, src, schema=POST_SCHEMA, max_files_per_trigger=1)
        out = stream_topk_retention(stream.select("key", "uri", "indexedAt"), k=15)
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda bdf, bid: batches.append(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "topk_resume_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def last_emission():
        nonempty = [b for b in batches if b]
        return nonempty[-1]

    posts_rows(spark, range(20), key="a", day=1).write.mode("append").parquet(src)
    drain()
    assert len(last_emission()) == 15  # k newest of the 20 day-1 rows

    batches.clear()
    # day-2 ids start at 200 so no day-2 uri prefix ("p20x") collides
    # with a day-1 uri (p0..p19 — "p10".startswith("p10") is true!)
    posts_rows(spark, range(200, 210), key="a", day=2).write.mode("append").parquet(src)
    drain()  # new query object, same checkpoint
    final = last_emission()
    assert len(final) == 15
    day2 = [r for r in final if r["uri"].startswith("p20")]
    day1 = [r for r in final if not r["uri"].startswith("p20")]
    assert len(day2) == 10, "post-restart arrivals missing from survivors"
    assert len(day1) == 5, "pre-restart state lost across resume"
    # all day-2 rows outrank every surviving day-1 row
    assert min(r["ts_us"] for r in day2) > max(r["ts_us"] for r in day1)


def test_stream_static_enrich_joins_profiles(spark, tmp_path):
    """S3 streaming leg: micro-batches enrich against a broadcast static
    dim; rows without a match keep NULLs (left join)."""
    from starryskyqueryengine_spark.streaming.pipeline import (
        parquet_stream,
        stream_static_enrich,
    )

    src = tmp_path / "posts"
    posts = spark.createDataFrame(
        [("at://u/1", "did:plc:a"), ("at://u/2", "did:plc:b"),
         ("at://u/3", "did:plc:zz")],
        "uri string, did string",
    )
    posts.write.parquet(str(src))
    profiles = spark.createDataFrame(
        [("did:plc:a", "Alice dev"), ("did:plc:b", "Bob writer")],
        "did string, profile_text string",
    )
    stream = parquet_stream(spark, str(src))
    enriched = stream_static_enrich(stream, profiles, "did")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["uri"]: r["profile_text"]
           for r in spark.sql("select * from enrich_t").collect()}
    assert got == {"at://u/1": "Alice dev", "at://u/2": "Bob writer",
                   "at://u/3": None}


def test_stream_static_picks_up_dim_updates_between_batches(spark, tmp_path):
    """SCD enrichment via foreach_batch_enrich: the dimension path is
    re-read at the start of every micro-batch, so a dim overwritten
    mid-stream is visible to later batches (behavior the reference's
    process-lifetime memo Map cannot give).  The inline stream-static
    join pins its parquet file listing at plan time, so the per-batch
    re-read is the correct Spark idiom for rewritable file dims."""
    from starryskyqueryengine_spark.streaming.pipeline import (
        foreach_batch_enrich,
        parquet_stream,
    )

    src = tmp_path / "posts2"
    dim_dir = str(tmp_path / "dim")
    spark.createDataFrame([("did:plc:a", "v1")],
                          "did string, profile_text string").write.parquet(dim_dir)
    batch1 = spark.createDataFrame([("at://u/1", "did:plc:a")], "uri string, did string")
    batch1.write.parquet(str(src))

    stream = parquet_stream(spark, str(src), max_files_per_trigger=1)

    collected = []
    updated = []

    def sink(batch_df, batch_id):
        collected.extend((r["uri"], r["profile_text"]) for r in batch_df.collect())
        # Key the mid-stream update on having SEEN the first row, not on
        # batch_id == 0: under load the source can plan an empty batch 0
        # before the initial file is visible, which would leak the v2 dim
        # into u/1's batch and flake the test.
        if not updated and any(u == "at://u/1" for u, _ in collected):
            updated.append(True)
            # update the dimension AND add a second source file -> next batch
            spark.createDataFrame(
                [("did:plc:a", "v2")], "did string, profile_text string"
            ).write.mode("overwrite").parquet(dim_dir)
            spark.createDataFrame(
                [("at://u/2", "did:plc:a")], "uri string, did string"
            ).write.mode("append").parquet(str(src))

    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_enrich(spark, dim_dir, "did", sink)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    import time as _t
    deadline = _t.time() + 240
    while _t.time() < deadline and len(collected) < 2:
        _t.sleep(0.5)
    q.stop()
    got = dict(collected)
    assert got.get("at://u/1") == "v1"
    assert got.get("at://u/2") == "v2", collected


def test_stream_upsert_onto_txnlog_format(spark, tmp_path):
    """The W1/W3 micro-batch upsert loop running on the ACID
    TxnLogFormat: checkpoint resume + PK anti-join idempotence as on
    Parquet, PLUS an inspectable commit history — every micro-batch is
    exactly one atomic append commit, and a replayed batch that inserts
    nothing commits nothing (no empty commits, no double-apply)."""
    from starryskyqueryengine_spark.table_format import TxnLogFormat

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    fmt = TxnLogFormat(spark, str(tmp_path / "store"))
    store = PostStore(spark, str(tmp_path / "store"), fmt=fmt)

    posts_rows(spark, range(10)).write.mode("append").parquet(src)
    stream = parquet_stream(spark, src, schema=POST_SCHEMA)
    run_available_now(stream, foreach_batch_upsert(store), ckpt)
    assert store.read().count() == 10
    v1 = len(fmt.history())
    assert [h["op"] for h in fmt.history()] == ["append"] * v1

    # overlap batch: 5 dups absorbed by the anti-join, 5 new inserted
    posts_rows(spark, range(5, 15)).write.mode("append").parquet(src)
    stream = parquet_stream(spark, src, schema=POST_SCHEMA)
    run_available_now(stream, foreach_batch_upsert(store), ckpt)
    assert store.read().count() == 15
    v2 = len(fmt.history())
    assert v2 > v1

    # full replay from a FRESH checkpoint: the anti-join inserts zero
    # rows and the log gains ZERO commits — atomic idempotent replay
    stream = parquet_stream(spark, src, schema=POST_SCHEMA)
    run_available_now(stream, foreach_batch_upsert(store), str(tmp_path / "c2"))
    assert store.read().count() == 15
    assert len(fmt.history()) == v2

    # retention on the txn-log store: one overwrite commit, snapshot
    # isolation means a pre-retention reader still sees 15
    before = store.read()
    store.apply_retention({"k1": 8})
    assert store.read().count() == 8
    assert before.count() == 15
    assert fmt.history()[-1]["op"] == "overwrite"


def test_stream_interval_join_outer_batch_semantics(spark):
    """Left-outer bucket-rewrite semantics on batch frames: matched rows
    join exactly once (no bucket-replica duplicates), unmatched left
    rows surface exactly once with nulls."""
    from starryskyqueryengine_spark.streaming.pipeline import (
        stream_interval_join_outer,
    )

    left = spark.createDataFrame(
        [("p1", dt.datetime(2024, 1, 1, 0, 5)),
         ("p2", dt.datetime(2024, 1, 1, 2, 0)),   # no click nearby
         ("p3", dt.datetime(2024, 1, 1, 0, 21))],
        "pid string, p_ts timestamp",
    )
    right = spark.createDataFrame(
        [("c1", dt.datetime(2024, 1, 1, 0, 0)),
         ("c2", dt.datetime(2024, 1, 1, 0, 20))],
        "cid string, c_ts timestamp",
    )
    out = stream_interval_join_outer(left, right, "p_ts", "c_ts", 10 * 60 * 1_000_000)
    pairs = sorted((r["pid"], r["cid"]) for r in out.collect())
    assert pairs == [("p1", "c1"), ("p2", None), ("p3", "c2")]


def test_stream_interval_join_outer_emits_null_on_eviction(spark, tmp_path):
    """Streaming leg: an unmatched purchase emits its NULL row once the
    watermark passes its window — outer-join state eviction, the
    behavior that distinguishes this from the inner variant."""
    import glob as globmod
    import shutil
    import tempfile
    import time

    from starryskyqueryengine_spark.streaming.pipeline import (
        stream_interval_join_outer,
    )

    csrc, psrc = tmp_path / "clicks2", tmp_path / "purch2"
    csrc.mkdir(); psrc.mkdir()

    def write_flat(df, dirpath, name):
        d = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(d)
        shutil.move(globmod.glob(d + "/part-*.parquet")[0], str(dirpath / name))
        time.sleep(1.05)

    def rows(kind, spec):
        return spark.createDataFrame(
            [(f"{kind}{i}", dt.datetime(2024, 1, 1, hh, mm)) for i, hh, mm in spec],
            f"{kind}_id string, {kind}_ts timestamp",
        )

    sink: list = []

    def drain():
        cs = parquet_stream(spark, str(csrc), schema=rows("c", []).schema)
        ps = parquet_stream(spark, str(psrc), schema=rows("p", []).schema)
        joined = stream_interval_join_outer(
            ps, cs, "p_ts", "c_ts", 10 * 60 * 1_000_000, watermark="15 minutes"
        )
        q = (
            joined.writeStream.foreachBatch(lambda bdf, bid: sink.extend(bdf.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "oj_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # p1@0:08 matches c1@0:00; p2@0:30 has NO click in (0:20, 0:30]
    write_flat(rows("c", [(1, 0, 0)]), csrc, "f1.parquet")
    write_flat(rows("p", [(1, 0, 8), (2, 0, 30)]), psrc, "f1.parquet")
    drain()

    # push the watermark far past p2's window on BOTH streams
    write_flat(rows("c", [(9, 6, 0)]), csrc, "f2.parquet")
    write_flat(rows("p", [(9, 6, 1)]), psrc, "f2.parquet")
    drain()
    # one more empty-ish advance in case eviction lands a batch later
    write_flat(rows("c", [(10, 7, 0)]), csrc, "f3.parquet")
    write_flat(rows("p", [(10, 7, 1)]), psrc, "f3.parquet")
    drain()

    got = {(r["p_id"], r["c_id"]) for r in sink}
    assert ("p1", "c1") in got
    assert ("p2", None) in got, f"unmatched row never emitted: {got}"
    # and no duplicate emission of the null row
    assert sum(1 for r in sink if r["p_id"] == "p2") == 1


def test_stream_heavy_hitters_state_and_resume(spark, tmp_path):
    """Streaming Misra-Gries: summaries accumulate across micro-batches,
    survive a checkpoint restart, and always contain every term whose
    true frequency exceeds total/k (the MG guarantee)."""
    import glob as globmod
    import shutil
    import tempfile
    import time as _time

    from starryskyqueryengine_spark.streaming import parquet_stream
    from starryskyqueryengine_spark.streaming.stateful import (
        stream_heavy_hitters,
    )

    src = tmp_path / "terms"
    src.mkdir()

    def write_terms(rows, name):
        df = spark.createDataFrame([(t,) for t in rows], "term string")
        d = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(d)
        shutil.move(globmod.glob(d + "/part-*.parquet")[0], str(src / name))
        _time.sleep(1.05)

    emitted: list = []

    def drain():
        stream = parquet_stream(
            spark, str(src), schema=spark.createDataFrame([("x",)], "term string").schema
        )
        q = (
            stream_heavy_hitters(stream, k=8, shards=2)
            .writeStream.foreachBatch(lambda b, i: emitted.extend(b.collect()))
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # batch 1: heavy item drowned in noise
    write_terms(["hot"] * 50 + [f"n{i}" for i in range(100)], "f1.parquet")
    drain()
    snap1 = {r["term"]: r["est"] for r in emitted}
    assert "hot" in snap1 and snap1["hot"] > 0

    # restart from checkpoint; more weight on 'hot' plus fresh noise —
    # the counter must CONTINUE from restored state, not restart at 0
    emitted.clear()
    write_terms(["hot"] * 30 + [f"m{i}" for i in range(60)], "f2.parquet")
    drain()
    snap2 = {r["term"]: r["est"] for r in emitted}
    assert "hot" in snap2
    assert snap2["hot"] > snap1["hot"], (snap1["hot"], snap2["hot"])
    # MG bound: est >= true - total/k (per shard, so >= global bound)
    assert snap2["hot"] >= 80 - (240 // 8)
    # bounded state: no shard summary exceeds k entries
    from collections import Counter

    per_shard = Counter(r["shard"] for r in emitted)
    assert all(v <= 8 for v in per_shard.values()), per_shard


def test_pattern_matcher_multibatch_and_resume(spark, tmp_path):
    """CEP pattern matcher: matches spanning MICRO-BATCH boundaries are
    found (the view sits in state from an earlier batch), pruned state
    never produces stale matches, and a kill-and-resume continues from
    the checkpoint without duplicate or lost matches."""
    from starryskyqueryengine_spark.streaming import parquet_stream
    from starryskyqueryengine_spark.streaming.stateful import (
        stream_pattern_matches,
    )

    W = 1000  # microseconds, tiny window for readable fixtures
    # timeline (one user): view@100 -> purchase@800 (match, same file),
    # purchase@1500 (matches view@900 ACROSS batches), view@5000,
    # purchase@5300 (match), purchase@9000 (view@5000 pruned: no match)
    f1 = [(1, 100, "view"), (2, 800, "purchase"), (3, 900, "view")]
    f2 = [(4, 1500, "purchase"), (5, 5000, "view")]
    f3 = [(6, 5300, "purchase"), (7, 9000, "purchase")]
    src = str(tmp_path / "src")
    schema = "user_id long, event_id long, ts_us long, event_type string"

    def write_file(rows, n):
        spark.createDataFrame(
            [(7, eid, ts, et) for eid, ts, et in rows], schema
        ).coalesce(1).write.mode("append").parquet(src)

    def drain(ck):
        stream = parquet_stream(spark, src, max_files_per_trigger=1)
        q = (
            stream_pattern_matches(stream, within_us=W)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    ck = str(tmp_path / "ck")
    write_file(f1, 1)
    write_file(f2, 2)
    drain(ck)  # two single-file batches
    write_file(f3, 3)
    drain(ck)  # resume from checkpoint, third batch

    got = sorted(
        (r["event_id"], r["ts_us"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == [(2, 800), (4, 1500), (6, 5300)]


def test_pattern_matcher_prune_keeps_window_boundary(spark, tmp_path):
    """State pruning is INCLUSIVE at the window edge: a view at exactly
    max_ts - within_us survives the batch-1 prune and still matches a
    purchase at ts == max_ts arriving in batch 2 (equal cross-batch
    timestamps are legal under the non-strict per-key ordering
    contract).  The previous exclusive prune (s > max_ts - within_us)
    silently missed this match."""
    from starryskyqueryengine_spark.streaming import parquet_stream
    from starryskyqueryengine_spark.streaming.stateful import (
        stream_pattern_matches,
    )

    W = 1000
    # batch 1: view@2000, purchase@3000 (match; max_ts=3000 puts the
    # view EXACTLY at the prune boundary 3000-1000).  batch 2:
    # purchase@3000 again (different event) — must also match.
    f1 = [(1, 2000, "view"), (2, 3000, "purchase")]
    f2 = [(3, 3000, "purchase")]
    src = str(tmp_path / "src")
    schema = "user_id long, event_id long, ts_us long, event_type string"
    for rows in (f1, f2):
        spark.createDataFrame(
            [(7, eid, ts, et) for eid, ts, et in rows], schema
        ).coalesce(1).write.mode("append").parquet(src)
    stream = parquet_stream(spark, src, max_files_per_trigger=1)
    q = (
        stream_pattern_matches(stream, within_us=W)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["event_id"], r["ts_us"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == [(2, 3000), (3, 3000)]


def test_running_stats_all_null_event_times():
    """A chunk whose indexedAt values are ALL NaT (PERMISSIVE-rescued
    rows) must not poison the state: rows still count, the event-time
    watermark stays unset, and no OutOfBoundsDatetime kills the task
    (the poison-pill failure mode W5 exists to prevent)."""
    import pandas as pd

    from starryskyqueryengine_spark.streaming.stateful import (
        running_key_stats,
    )

    st = _FakeGroupState()
    pdf = pd.DataFrame(
        {"key": ["k"] * 3, "indexedAt": pd.to_datetime([None, None, None])}
    )
    (out,) = running_key_stats(("k",), iter([pdf]), st)
    assert out["n_total"].iloc[0] == 3
    assert pd.isna(out["max_ts"].iloc[0])
    assert st.updated == (3, None)
    # a later chunk WITH timestamps takes over the watermark cleanly
    st2 = _FakeGroupState()
    pdf2 = pd.DataFrame(
        {
            "key": ["k"] * 2,
            "indexedAt": pd.to_datetime([None, "2026-01-01T00:00:01"]),
        }
    )
    (out2,) = running_key_stats(("k",), iter([pdf2]), st2)
    assert out2["n_total"].iloc[0] == 2
    assert out2["max_ts"].iloc[0] == pd.Timestamp("2026-01-01T00:00:01")


class _FakeGroupState:
    """Minimal GroupState stand-in for driver-side unit tests."""

    def __init__(self, value=None, has_timed_out=False):
        self._v = value
        self.exists = value is not None
        self.hasTimedOut = has_timed_out
        self.updated = None
        self.removed = False
        self.timeout_ms = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.updated = v

    def remove(self):
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_running_stats_timeout_removes_state_without_emitting():
    """A timed-out invocation must DROP the idle key's state and emit
    nothing — updating would resurrect what just expired."""
    import pandas as pd

    from starryskyqueryengine_spark.streaming.stateful import running_key_stats

    st = _FakeGroupState(value=(5, 123), has_timed_out=True)
    out = list(running_key_stats(("k",), iter([]), st,
                                 arm_idle_timeout=True))
    assert out == []
    assert st.removed and st.updated is None


def test_running_stats_arms_processing_time_timeout():
    """With ProcessingTimeTimeout wiring, every invocation must REGISTER
    a timeout duration — Spark only expires keys that did."""
    import pandas as pd

    from starryskyqueryengine_spark.streaming.stateful import (
        IDLE_KEY_TIMEOUT_MS,
        running_key_stats,
    )

    st = _FakeGroupState()
    pdf = pd.DataFrame(
        {"key": ["k"], "indexedAt": pd.to_datetime(["2026-01-01"])}
    )
    list(running_key_stats(("k",), iter([pdf]), st, arm_idle_timeout=True))
    assert st.timeout_ms == IDLE_KEY_TIMEOUT_MS
    # NoTimeout wiring must NOT register (Spark raises on that call)
    st2 = _FakeGroupState()
    list(running_key_stats(("k",), iter([pdf]), st2))
    assert st2.timeout_ms is None
    # and the wiring threads the mode in explicitly: the closure built
    # by stream_running_stats must not read GroupState internals —
    # _FakeGroupState deliberately carries NO _timeout_conf attribute
    assert not hasattr(st, "_timeout_conf")


def test_streaming_topk_ignores_null_timestamps():
    """A NULL indexedAt (PERMISSIVE-rescued row) must not park an int64
    sentinel in a top-k slot."""
    import pandas as pd

    from starryskyqueryengine_spark.streaming.stateful import make_streaming_topk

    fn = make_streaming_topk(2)
    st = _FakeGroupState()
    pdf = pd.DataFrame(
        {
            "uri": ["a", "b"],
            "indexedAt": pd.to_datetime([None, "2026-01-01"]),
        }
    )
    (out,) = fn(("k",), iter([pdf]), st)
    assert out["uri"].tolist() == ["b"]
    assert (out["ts_us"] > 0).all()


def test_pattern_matcher_dedups_redelivered_matches():
    """At-least-once re-delivery of a matched then-event must not emit
    the match row twice into the append-mode sink."""
    import pandas as pd

    from starryskyqueryengine_spark.streaming.stateful import make_pattern_matcher

    fn = make_pattern_matcher("view", "purchase", within_us=10_000_000)
    st = _FakeGroupState()
    batch = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts_us": [1_000_000, 2_000_000],
            "event_type": ["view", "purchase"],
        }
    )
    out1 = list(fn((7,), iter([batch]), st))
    assert len(out1) == 1 and out1[0]["event_id"].tolist() == [2]
    # re-deliver the SAME batch against the updated state
    st2 = _FakeGroupState(value=st.updated)
    out2 = list(fn((7,), iter([batch]), st2))
    assert out2 == [], "re-delivered match emitted twice"


def test_pattern_matcher_null_ts_and_null_id_do_not_poison():
    """Review r14: a PERMISSIVE-rescued row with NULL ts_us used to hit
    int(NaN) and kill the streaming query — the poison-pill mode every
    OTHER operator in stateful.py already guards.  NULL-ts rows must be
    inert (no match, no first-anchor, no clock advance); a NULL-id
    then-event cannot be emitted/deduped but its ts still advances the
    pruning clock."""
    import pandas as pd

    from starryskyqueryengine_spark.streaming.stateful import make_pattern_matcher

    fn = make_pattern_matcher("view", "purchase", within_us=10_000_000)
    st = _FakeGroupState()
    batch = pd.DataFrame(
        {
            "event_id": [1, None, 3, None],
            "ts_us": [1_000_000, None, 2_000_000, 50_000_000],
            "event_type": ["view", "purchase", "purchase", "purchase"],
        }
    )
    out = list(fn((7,), iter([batch]), st))
    # the NULL-ts purchase is inert; the valid purchase matches; the
    # NULL-id purchase at t=50s is not emitted
    assert len(out) == 1 and out[0]["event_id"].tolist() == [3]
    # ...but its timestamp advanced the clock: the view at t=1s is
    # outside [50s - 10s, ...] and must have been pruned from state
    first_ts, max_ts, matched_ids, matched_ts = st.updated
    assert max_ts == 50_000_000 and first_ts == []
    # an all-NULL-ts batch leaves fresh state untouched and emits nothing
    st2 = _FakeGroupState()
    empty = pd.DataFrame(
        {
            "event_id": [9],
            "ts_us": [None],
            "event_type": ["purchase"],
        }
    )
    assert list(fn((7,), iter([empty]), st2)) == []
    assert st2.updated == ([], -(1 << 62), [], [])


def test_w6_cdc_same_batch_delete_recreate_survives(spark, tmp_path):
    """Review r9: a delete->recreate of one PK inside a single
    micro-batch (the standard CDC update encoding) must leave the
    RECREATED row — creates-then-deletes application used to discard the
    new content (ON CONFLICT DO NOTHING) and then delete the row.  The
    inverse order (create superseded by a later delete) must stay
    deleted, and the recreate must carry its NEW content."""
    import datetime as dt

    from pyspark.sql.types import StringType, StructField, StructType

    from starryskyqueryengine_spark.schemas import POST_SCHEMA
    from starryskyqueryengine_spark.store import PostStore
    from starryskyqueryengine_spark.streaming import (
        cdc_apply_batch,
        parquet_stream,
        run_available_now,
    )

    src = str(tmp_path / "src")
    store = PostStore(spark, str(tmp_path / "store"))
    cdc_schema = StructType(
        list(POST_SCHEMA.fields) + [StructField("_op", StringType())]
    )

    def row(uri, cid, sec, op):
        return (uri, "k1", cid, None, None,
                dt.datetime(2024, 1, 1, 0, 0, sec), op)

    # seed: pX exists with cid=old
    spark.createDataFrame([row("pX", "old", 1, "create"),
                           row("pY", "y1", 1, "create")],
                          cdc_schema).write.mode("append").parquet(src)
    run_available_now(parquet_stream(spark, src, schema=cdc_schema),
                      cdc_apply_batch(store), str(tmp_path / "c"))
    # one batch: delete pX then recreate with NEW cid; create pZ then
    # delete it (later ts)
    spark.createDataFrame(
        [row("pX", "old", 2, "delete"), row("pX", "new", 3, "create"),
         row("pZ", "z1", 2, "create"), row("pZ", "z1", 3, "delete")],
        cdc_schema,
    ).write.mode("append").parquet(src)
    run_available_now(parquet_stream(spark, src, schema=cdc_schema),
                      cdc_apply_batch(store), str(tmp_path / "c"))

    got = {r["uri"]: r["cid"] for r in store.read().collect()}
    assert got == {"pX": "new", "pY": "y1"}  # recreated content, no pZ


def test_w6_cdc_unstamped_delete_is_final(spark, tmp_path):
    """Review r10 (ADVICE): CDC deletes typically carry no record to
    stamp, so a delete with NULL indexedAt must be FINAL for its PK —
    under the r9 desc_nulls_last ordering it lost to ANY stamped create
    in the batch, resurrecting every create-then-delete sequence whose
    delete was unstamped.  A stamped delete->recreate in the same batch
    still recreates (pure timestamp ordering for stamping producers)."""
    import datetime as dt

    from pyspark.sql.types import StringType, StructField, StructType

    from starryskyqueryengine_spark.schemas import POST_SCHEMA
    from starryskyqueryengine_spark.store import PostStore
    from starryskyqueryengine_spark.streaming import (
        cdc_apply_batch,
        parquet_stream,
        run_available_now,
    )

    src = str(tmp_path / "src")
    store = PostStore(spark, str(tmp_path / "store"))
    # indexedAt must admit NULL here: the unstamped delete IS the case
    cdc_schema = StructType(
        [StructField(f.name, f.dataType, True) for f in POST_SCHEMA.fields]
        + [StructField("_op", StringType())]
    )

    def row(uri, cid, sec, op):
        ts = dt.datetime(2024, 1, 1, 0, 0, sec) if sec is not None else None
        return (uri, "k1", cid, None, None, ts, op)

    # one batch: pA created (stamped) then deleted by an UNSTAMPED
    # delete -> must be gone; pB stamped delete->recreate -> recreated;
    # pC only an unstamped delete (no prior row) -> no-op
    spark.createDataFrame(
        [row("pA", "a1", 5, "create"), row("pA", "a1", None, "delete"),
         row("pB", "b-old", 1, "delete"), row("pB", "b-new", 2, "create"),
         row("pC", "c1", None, "delete")],
        cdc_schema,
    ).write.mode("append").parquet(src)
    run_available_now(parquet_stream(spark, src, schema=cdc_schema),
                      cdc_apply_batch(store), str(tmp_path / "c"))

    got = {r["uri"]: r["cid"] for r in store.read().collect()}
    assert got == {"pB": "b-new"}, got


def test_w6_cdc_missing_indexed_at_raises_contract_error(spark, tmp_path):
    """Review r11 (verdict #3): a producer whose batch lacks the
    ``indexedAt`` ordering column must get the documented W6 contract
    error, not a raw AnalysisException leaking from the Window orderBy."""
    import pytest as _pytest

    from starryskyqueryengine_spark.store import PostStore
    from starryskyqueryengine_spark.streaming import cdc_apply_batch

    store = PostStore(spark, str(tmp_path / "store"))
    apply_fn = cdc_apply_batch(store)
    bad = spark.createDataFrame(
        [("pA", "k1", "a1", "create")], "uri string, key string, cid string, _op string"
    )
    with _pytest.raises(ValueError, match="W6 contract"):
        apply_fn(bad, 0)


def test_outer_join_sentinels_same_for_file_and_directory_layout(tmp_path):
    """w_stream_outer_join's watermark sentinels come from the footer
    statistics of either events layout: a directory of part files (as
    tools/make_scale_fixture.py writes) stages every part and yields the
    same sentinel rows as the single file; another column layout raises."""
    import pyarrow.parquet as pq
    import pytest as _pytest

    from starryskyqueryengine_spark.catalog_stream import _stage_events_with_sentinels
    from tests.conftest import SF_SMALL

    src = f"{SF_SMALL}/events.parquet"
    parts = tmp_path / "events.parquet"
    parts.mkdir()
    t = pq.read_table(src).sort_by("event_id")
    n = t.num_rows
    for i in range(3):
        pq.write_table(t.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3),
                       parts / f"part-{i:02d}.parquet")

    def sentinels(stage):
        return [pq.read_table(stage / f"z_sentinel_{i}.parquet").to_pylist()
                for i in range(2)]

    _stage_events_with_sentinels(str(tmp_path / "a"), src, 10**9)
    _stage_events_with_sentinels(str(tmp_path / "b"), str(parts), 10**9)
    assert sentinels(tmp_path / "b") == sentinels(tmp_path / "a")
    assert sentinels(tmp_path / "a")[1][0]["event_type"] == "purchase"
    assert len(list((tmp_path / "b").glob("a_*.parquet"))) == 3

    odd = tmp_path / "odd.parquet"
    pq.write_table(t.drop(["props"]), odd)
    with _pytest.raises(ValueError, match="columns"):
        _stage_events_with_sentinels(str(tmp_path / "c"), str(odd), 10**9)
