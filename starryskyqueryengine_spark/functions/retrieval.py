"""Incrementally-maintained BM25 inverted index.

The one persisted BM25 index: ``catalog_text.bm25_indexed_search``
serves it (the corpus built as generation 0 on first use per dataset),
and a living corpus keeps it current through inserts, updates, and
deletes without a rebuild.  This is the standard LSM-flavored design
every search engine uses (Lucene's segments + deletes files, public
knowledge), expressed in Spark primitives:

- **Segments, not rewrites.**  Each ``apply_changes`` batch appends new
  posting/doc-length rows tagged with a monotonically increasing
  ``gen``; deleted doc_ids append ``(doc_id, gen)`` tombstones.  An
  update in one batch is delete+insert at the same gen: the tombstone
  kills strictly OLDER generations, the fresh rows carry the current
  gen, so the pair composes correctly inside a single batch.
- **Probe-time resolution.**  A query reads only the buckets its terms
  hash into (PartitionFilters on ``term_bucket``), then
  drops candidate rows whose gen ≤ the doc's newest tombstone gen.
  Tombstones are bounded by deletes-since-compaction and broadcast.
- **Exact incremental stats.**  (n_docs, total_dl) are maintained as
  INTEGER deltas in the stats sidecar, so avgdl — the one global float
  the score needs — is the same division a rebuild computes:
  incremental and rebuilt indexes return BIT-IDENTICAL scores
  (equivalence is test-pinned, the IVM acceptance bar used everywhere
  else in this repo).
- **compact()** folds live rows into gen-0 files and clears tombstones
  — results unchanged, probe-side tombstone work back to zero.
- **Recovery contract.**  The stats sidecar write is a batch's commit
  point: ``apply_changes(txn=...)`` skips batches the sidecar already
  recorded (committed-replay exactly-once), while a crash BEFORE the
  sidecar write leaves appended segment rows with no recorded batch —
  re-applying that batch would double them.  ``repair(source_batch)``
  executes the recovery in one call: drop the uncommitted generation
  (gen > stats gen) from postings/dl/tombstones, then re-apply the
  batch through the normal committed path.

100 TB shape: a change batch costs tokenize(changed docs) + one append
per table — O(batch), never O(corpus); probes stay O(buckets(terms));
compaction is O(live index) and runs on the OPTIMIZE cadence.
"""

from __future__ import annotations

import contextlib
import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


BM25_K1 = 1.2
BM25_B = 0.75
TERM_BUCKETS = 64

# The BM25 per-term score over columns (tf, df, dl, n_docs, avgdl): the
# one Spark text of the formula.  The scan-time plans (bm25_search,
# hybrid and RAG retrieval) and this index's probe all evaluate it, so
# every BM25 leg scores bit-identically; the DuckDB oracles keep their
# own independent text.
BM25_PART_SQL = (
    f"ln(1 + (n_docs - df + 0.5D) / (df + 0.5D)) * tf * {BM25_K1 + 1!r}D"
    f" / (tf + {BM25_K1!r}D * ({1 - BM25_B!r}D + {BM25_B!r}D * dl / avgdl))"
)

# the segment schemas, named by the probe's reads so that building a
# probe plan infers nothing (a footer-reading job per read otherwise)
POSTINGS_SCHEMA = "term string, doc_id bigint, tf bigint, gen bigint, term_bucket int"
DL_SCHEMA = "doc_id bigint, dl bigint, gen bigint"


class Bm25IncrementalIndex:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    # ------------------------------------------------------------ internals

    def _stats(self) -> dict:
        with open(os.path.join(self.path, "stats.json")) as f:
            return json.load(f)

    def _write_stats(self, st: dict) -> None:
        tmp = os.path.join(self.path, "stats.json.tmp")
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, os.path.join(self.path, "stats.json"))

    def _tokenize(self, docs: DataFrame) -> DataFrame:
        return docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
                )
            ).alias("term"),
        )

    def _index_rows(self, docs: DataFrame, gen: int):
        """(postings, dl, tf) for a batch.  ``tf`` is returned CACHED:
        both outputs and the caller's stats aggregate derive from it, so
        the tokenize+explode pass (the dominant per-batch cost) runs
        once instead of once per downstream action — the caller must
        ``unpersist()`` it after its last action.  ``dl`` is the sum of
        per-term counts, identical to counting raw tokens."""
        tok = self._tokenize(docs)
        tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).cache()
        postings = tf.select(
            "term",
            "doc_id",
            "tf",
            F.lit(gen).cast("long").alias("gen"),
            (F.abs(F.hash("term")) % TERM_BUCKETS).alias("term_bucket"),
        )
        dl = tf.groupBy("doc_id").agg(
            F.sum("tf").alias("dl")
        ).select("doc_id", "dl", F.lit(gen).cast("long").alias("gen"))
        return postings, dl, tf

    def _append(self, postings: DataFrame, dl: DataFrame) -> None:
        (
            postings.repartition("term_bucket")
            .write.mode("append")
            .partitionBy("term_bucket")
            .parquet(os.path.join(self.path, "postings"))
        )
        dl.write.mode("append").parquet(os.path.join(self.path, "dl"))

    def _tombstones(self) -> DataFrame | None:
        p = os.path.join(self.path, "tombstones")
        if not os.path.isdir(p) or not any(
            n.endswith(".parquet") for n in os.listdir(p)
        ):
            return None
        return self.spark.read.parquet(p)

    def _live(self, df: DataFrame) -> DataFrame:
        """Drop rows killed by a STRICTLY newer tombstone: keep rows
        with gen >= the doc's newest tombstone gen — an update batch
        tombstones at gen G and writes its fresh rows at the same G, so
        >= lets the batch's own rows survive while every older
        generation dies."""
        tombs = self._tombstones()
        if tombs is None:
            return df
        newest = tombs.groupBy("doc_id").agg(F.max("gen").alias("_tgen"))
        return (
            df.join(F.broadcast(newest), "doc_id", "left")
            .filter(F.col("_tgen").isNull() | (F.col("gen") >= F.col("_tgen")))
            .drop("_tgen")
        )

    # ------------------------------------------------------------- lifecycle

    def build(self, docs: DataFrame) -> None:
        """Full build as generation 0, replacing whatever the directory
        holds: a build that died before its stats.json commit left
        segment rows behind, and appending to them would double every
        posting."""
        import shutil

        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(self.path, "stats.json"))
        for name in ("postings", "dl", "tombstones"):
            shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        postings, dl, tf = self._index_rows(docs, gen=0)
        self._append(postings, dl)
        row = dl.agg(
            F.count("*").alias("n"), F.sum("dl").alias("t")
        ).collect()[0]
        tf.unpersist()
        self._write_stats(
            {"gen": 0, "n_docs": row["n"] or 0, "total_dl": int(row["t"] or 0)}
        )

    def apply_changes(self, changes: DataFrame, txn=None) -> dict:
        """Apply one change batch: rows ``(_change: insert|delete,
        doc_id, text)``.  An update is its delete+insert pair in the
        SAME batch (the CDF encoding TxnLogFormat.changes_between
        emits).  Cost is O(batch).

        ``txn=(app_id, version)`` makes COMMITTED replays exactly-once
        (review r13, mirroring ``TxnLogFormat.append(txn=...)`` and the
        S8 upsert): a restarted CDC feed whose checkpoint predates its
        sink commit re-fires its last batch, and without the marker the
        replay re-appended every posting — duplicate live rows at a
        newer gen, silently inflating tf and df and corrupting scores
        for every doc in the batch.  Versions must be monotonically
        increasing per app_id; a batch whose version is <= the recorded
        one returns ``{"replayed": True}`` and touches nothing.  The
        marker commits WITH the stats write (one atomic os.replace), so
        a crash mid-batch replays as an uncommitted batch — see the
        class docstring's recovery note: an interrupted apply_changes
        must be re-applied from source or the index rebuilt; the stats
        sidecar never records a batch whose appends it cannot vouch for.

        Contract note (review r10): a batch's delete+insert pair for one
        doc_id always means UPDATE — same-gen tombstones spare same-gen
        rows, so encoding "created then deleted between syncs" as an
        insert+delete pair would leave the doc live.  That encoding
        cannot arise from the CDF source (changes_between emits NET
        changes — a create+delete inside the interval nets to nothing);
        producers hand-crafting batches must net such pairs out
        themselves."""
        st = self._stats()
        if txn is not None:
            app, ver = str(txn[0]), int(txn[1])
            if st.get("txns", {}).get(app, -1) >= ver:
                return {"gen": st["gen"], "inserted": 0, "deleted": 0,
                        "replayed": True}
        gen = st["gen"] + 1

        dels = changes.filter(F.col("_change") == "delete").select("doc_id")
        ins = changes.filter(F.col("_change") == "insert").select(
            "doc_id", "text"
        )

        # stats deltas need the DELETED docs' lengths: read them from the
        # live dl table (semi-join on the batch's delete keys — O(batch))
        n_del = t_del = 0
        if dels.head(1):
            dl_all = self.spark.read.parquet(os.path.join(self.path, "dl"))
            live_dl = self._live(dl_all).join(
                F.broadcast(dels.distinct()), "doc_id", "left_semi"
            )
            row = live_dl.agg(
                F.count("*").alias("n"), F.sum("dl").alias("t")
            ).collect()[0]
            n_del, t_del = row["n"] or 0, int(row["t"] or 0)
            dels.distinct().select(
                "doc_id", F.lit(gen).cast("long").alias("gen")
            ).write.mode("append").parquet(
                os.path.join(self.path, "tombstones")
            )

        n_ins = t_ins = 0
        if ins.head(1):
            postings, dl, tf = self._index_rows(ins, gen=gen)
            self._append(postings, dl)
            row = dl.agg(
                F.count("*").alias("n"), F.sum("dl").alias("t")
            ).collect()[0]
            tf.unpersist()
            n_ins, t_ins = row["n"] or 0, int(row["t"] or 0)

        new_st = {
            "gen": gen,
            "n_docs": st["n_docs"] + n_ins - n_del,
            "total_dl": st["total_dl"] + t_ins - t_del,
        }
        if "txns" in st or txn is not None:
            new_st["txns"] = dict(st.get("txns", {}))
            if txn is not None:
                new_st["txns"][str(txn[0])] = int(txn[1])
        self._write_stats(new_st)
        return {"gen": gen, "inserted": n_ins, "deleted": n_del}

    def repair(self, changes: DataFrame | None = None, txn=None) -> dict:
        """One-call recovery from a crash mid-``apply_changes`` (r14,
        verdict ask #7 — the documented manual "re-sync from source"
        step made executable).  The stats sidecar is the commit point:
        a crash between the segment appends and the sidecar write
        leaves posting/dl/tombstone rows tagged with gen > the recorded
        stats gen, and naively re-applying the batch would double them.
        ``repair`` drops every row from the uncommitted generation
        (gen > stats gen) from all three tables, restoring exactly the
        last committed state, then — if the caller hands back the
        source batch — re-applies it through the normal
        ``apply_changes`` path (with its ``txn`` marker, so the repair
        itself is safely re-runnable).

        Each affected table is rewritten via the same rename-aside swap
        ``compact`` uses: a crash mid-repair leaves either the old or
        the new tree live (or a loud missing-dir, never a silent
        partial).  Tables with no uncommitted rows are not touched, so
        a repair on a healthy index is a cheap no-op scan.  Cost is
        O(live index) for affected tables — it is a recovery operation
        on the compaction cadence, not a hot-path one."""
        import shutil
        import uuid

        st = self._stats()
        tip = int(st["gen"])
        dropped: dict[str, int] = {}
        for name in ("postings", "dl", "tombstones"):
            p = os.path.join(self.path, name)
            if not os.path.isdir(p) or not any(
                True for _r, _d, fs in os.walk(p)
                for n in fs if n.endswith(".parquet")
            ):
                dropped[name] = 0
                continue
            df = self.spark.read.parquet(p)
            n_bad = df.filter(F.col("gen") > tip).count()
            dropped[name] = n_bad
            if not n_bad:
                continue
            kept = df.filter(F.col("gen") <= tip)
            tmp = os.path.join(self.path, f"_repair-{uuid.uuid4().hex}")
            w = kept.repartition("term_bucket") if name == "postings" else kept
            w = w.write.mode("overwrite")
            if name == "postings":
                w = w.partitionBy("term_bucket")
            w.parquet(tmp)
            aside = os.path.join(
                self.path, f"_aside-{name}-{uuid.uuid4().hex}"
            )
            os.rename(p, aside)
            os.rename(tmp, p)
            shutil.rmtree(aside)
        out = {"stats_gen": tip, "dropped": dropped, "reapplied": None}
        if changes is not None:
            out["reapplied"] = self.apply_changes(changes, txn=txn)
        return out

    def compact(self) -> None:
        """Fold live rows into fresh single-generation segments and
        clear tombstones: results unchanged, probe-side tombstone
        resolution back to zero work.

        Crash-safe by construction — every interruption point leaves an
        index that answers probes CORRECTLY (or fails loudly), never one
        that silently drops documents:

        - Folded rows carry gen = the CURRENT stats gen (the log tip),
          not 0: ``_live`` keeps rows with gen >= the doc's newest
          tombstone gen, and every existing tombstone has gen <= tip, so
          leftover tombstones from a crash BEFORE the tombstone clear
          are harmless no-ops over the folded rows (gen-0 folding — the
          original design — made that window return silently wrong,
          empty results for every tombstoned doc).
        - Each data dir is swapped via rename-aside (old -> aside, new
          -> live, delete aside), never delete-then-replace: no moment
          at which the only live copy has been rmtree'd.  A crash
          between the two renames leaves the dir missing — probes raise
          (loud), and both the aside and tmp trees still hold full
          copies for recovery.
        - A half-swapped state (new postings + old dl) is consistent
          because both resolve through the still-present tombstones to
          the same live set.
        """
        import shutil
        import uuid

        st = self._stats()
        fold_gen = int(st["gen"])
        live_post = self._live(
            self.spark.read.parquet(os.path.join(self.path, "postings"))
        ).withColumn("gen", F.lit(fold_gen).cast("long"))
        live_dl = self._live(
            self.spark.read.parquet(os.path.join(self.path, "dl"))
        ).withColumn("gen", F.lit(fold_gen).cast("long"))
        tmp = os.path.join(self.path, f"_compact-{uuid.uuid4().hex}")
        (
            live_post.repartition("term_bucket")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(os.path.join(tmp, "postings"))
        )
        live_dl.write.mode("overwrite").parquet(os.path.join(tmp, "dl"))
        for name in ("postings", "dl"):
            live = os.path.join(self.path, name)
            aside = os.path.join(self.path, f"_aside-{name}-{uuid.uuid4().hex}")
            os.rename(live, aside)
            os.rename(os.path.join(tmp, name), live)
            shutil.rmtree(aside)
        shutil.rmtree(
            os.path.join(self.path, "tombstones"), ignore_errors=True
        )
        shutil.rmtree(tmp, ignore_errors=True)
        # stats (incl. the gen counter) are untouched: gens keep
        # increasing across compactions so later tombstones stay newer
        # than every folded row

    # ----------------------------------------------------------------- probe

    def probe(self, terms, top_k: int = 20) -> DataFrame:
        """Top-k BM25 over the query terms: the postings scan is pruned
        to the terms' hash buckets (PartitionFilters on term_bucket; the
        bucket numbers are literals Catalyst folds, so building the plan
        runs no job), df is a window count over that one scan, dl is
        joined for candidate docs only, and no text is tokenized.
        Tombstone resolution is one broadcast join over
        O(deletes-since-compact)."""
        st = self._stats()
        # dedupe query terms: a repeated term would double its postings
        # after the join (inflating df -> wrong idf, and double-counting
        # its score contribution); BM25 is defined over the term SET
        terms = list(dict.fromkeys(terms))
        qt = self.spark.createDataFrame([(t,) for t in terms], "term string")
        buckets = [F.abs(F.hash(F.lit(t))) % TERM_BUCKETS for t in terms]
        postings = (
            self._live(
                self.spark.read.schema(POSTINGS_SCHEMA)
                .parquet(os.path.join(self.path, "postings"))
                .filter(F.col("term_bucket").isin(*buckets))
                .join(F.broadcast(qt), "term")
            )
            .withColumn("df", F.count("*").over(Window.partitionBy("term")))
        )
        dl = self._live(
            self.spark.read.schema(DL_SCHEMA).parquet(os.path.join(self.path, "dl"))
        )
        avgdl = st["total_dl"] / st["n_docs"] if st["n_docs"] else 0.0
        part = (
            postings.join(dl.select("doc_id", "dl"), "doc_id")
            .withColumns({"n_docs": F.lit(st["n_docs"]), "avgdl": F.lit(avgdl)})
            .select("doc_id", F.expr(BM25_PART_SQL).alias("part"))
        )
        return (
            part.groupBy("doc_id")
            .agg(F.round(F.sum("part"), 6).alias("score"))
            .orderBy(F.col("score").desc(), "doc_id")
            .limit(top_k)
            .select("doc_id", "score")
        )
