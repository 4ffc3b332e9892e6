"""Training-order and mixture operators: temperature-weighted source
sampling to a token budget, deterministic global shuffle + shard
assignment, and CCNet-style line-level dedup across the corpus.

These extend the reference's ingest surface (which samples nothing —
`/root/reference/src/subscription.ts` takes every matching post) with the
operations a pretraining-data pipeline runs after curation: decide how
much of each source to keep, fix a reproducible training order, and strip
boilerplate lines repeated across documents.

Everything is seeded-hash deterministic (never ``rand()``), so results are
reproducible across runs, engines, and partitionings — the same property
the contrastive-negatives sampler in catalog_text.py establishes.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from .catalog import register
from .catalog_dedup import _sql_md5int
from .functions import text as tx
from .sources.fixtures import load_table

# -- shared seeded hash (Spark side of catalog_dedup._sql_md5int) ----------


def _md5int(col: Column) -> Column:
    """First 8 hex chars of md5 as a non-negative bigint — THE shared
    base hash (functions/dedup.py::md5int), re-exported under the local
    name the mixture operators grew up with; one definition keeps the
    mixture/dedup/curation hashes bit-identical forever."""
    from .functions.dedup import md5int

    return md5int(col)


# 60-bit content hash (15 md5 hex chars) for the dedup group keys below:
# the 32-bit _sql_md5int is fine for banding/bucketing, but a dedup-key
# collision silently deletes unique content; at 100 TB (~10^13 grams)
# 32 bits guarantee collisions while 60 bits keep the expected count
# harmless. 16^15 < 2^63, so the value is an exact BIGINT in both engines.
_HASH_HEX = 15
# DuckDB's power() is DOUBLE and 16^14 > 2^53, so the value is assembled
# from two halves that each stay exactly representable: hi = hex chars
# 1-7 (< 16^7), lo = chars 8-15 (< 16^8); h = hi * 16^8 + lo.
# the lambda variable is deliberately obscure: DuckDB lambda parameters
# shadow outer column aliases, so a generic `i` would capture callers'
# unnest indexes inside {x}
_SQL_GRAM_HASH = (
    "(CAST(list_sum(list_transform(range(7), _gh -> "
    "(strpos('0123456789abcdef', substr(md5({x}), _gh+1, 1)) - 1) "
    "* power(16, 6-_gh))) AS BIGINT) * 4294967296 + "
    "CAST(list_sum(list_transform(range(8), _gh -> "
    "(strpos('0123456789abcdef', substr(md5({x}), _gh+8, 1)) - 1) "
    "* power(16, 7-_gh))) AS BIGINT))"
)


def _gram_hash(col: Column) -> Column:
    """Spark side of _SQL_GRAM_HASH: first 15 md5 hex chars as bigint."""
    return F.conv(F.substring(F.md5(col), 1, _HASH_HEX), 16, 10).cast("bigint")


# -- 1. temperature-weighted mixture sampling ------------------------------

MIX_BUDGET_NUM = 1  # budget = 1/4 of corpus tokens
MIX_BUDGET_DEN = 4
# integerized sqrt weight: w_s = floor(sqrt(T_s) * 1000). Summing BIGINTs
# is exact and order-independent, unlike summing doubles, so every engine
# derives bit-identical sampling thresholds regardless of partitioning.
_W_SCALE = 1000

# rate_s = min(1, budget_share_s / T_s); all operands are exact integers
# cast to double inside one fixed expression tree, so both engines
# evaluate the identical IEEE sequence.
_RATE_SQL = (
    "least(CAST(1.0 AS DOUBLE), "
    f"(CAST({MIX_BUDGET_NUM} AS DOUBLE) * CAST(t_tot AS DOUBLE) * CAST(w AS DOUBLE)) / "
    f"(CAST({MIX_BUDGET_DEN} AS DOUBLE) * CAST(w_sum AS DOUBLE) * CAST(t_src AS DOUBLE)))"
)
_THRESH_SQL = f"CAST(floor({_RATE_SQL} * CAST(1000000 AS DOUBLE)) AS BIGINT)"

_TOK_SQL = r"CAST((CASE WHEN coalesce(trim(text), '') = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT)"


@register(
    "mixture_sample",
    rf"""
    WITH d AS (
      SELECT doc_id, source, {_TOK_SQL} AS tok FROM documents
    ),
    per_src AS (
      SELECT source, SUM(tok) AS t_src,
             CAST(floor(sqrt(CAST(SUM(tok) AS DOUBLE)) * {_W_SCALE}) AS BIGINT) AS w
      FROM d GROUP BY source
    ),
    totals AS (SELECT SUM(w) AS w_sum, SUM(t_src) AS t_tot FROM per_src),
    rates AS (
      SELECT source, t_src, w, w_sum, t_tot, {_THRESH_SQL} AS threshold
      FROM per_src CROSS JOIN totals
    )
    SELECT d.source, r.threshold,
           CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(d.tok) AS BIGINT) AS tok_kept
    FROM d JOIN rates r ON d.source = r.source
    WHERE {_sql_md5int("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000 < r.threshold
    GROUP BY d.source, r.threshold
    """,
)
def mixture_sample(spark, sf_dir):
    """Temperature-weighted source mixture to a token budget: per-source
    sampling rates ∝ sqrt(source tokens) (alpha=0.5 upweights rare
    sources), scaled so expected kept tokens ≈ 1/4 of the corpus, then
    deterministic Bernoulli keep via a seeded id hash against the
    per-source threshold.

    Scale shape: one scan computes doc token counts; the per-source
    totals are a tiny aggregate (|sources| rows) broadcast back onto the
    corpus, so the sample itself is a single filtered pass — no shuffle
    of the document payload at all.  Thresholds are derived from exact
    BIGINT sums (see _W_SCALE) so a 1000-executor run and DuckDB agree
    bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        tx.ws_token_count(F.col("text")).alias("tok"),
    )
    per_src = d.groupBy("source").agg(
        F.sum("tok").alias("t_src"),
        F.expr(
            f"CAST(floor(sqrt(CAST(SUM(tok) AS DOUBLE)) * {_W_SCALE}) AS BIGINT)"
        ).alias("w"),
    )
    glob = per_src.agg(
        F.sum("w").alias("w_sum"), F.sum("t_src").alias("t_tot")
    )
    rates = per_src.join(F.broadcast(glob)).select(
        "source", F.expr(_THRESH_SQL).alias("threshold")
    )
    keep = (
        d.join(F.broadcast(rates), "source")
        .filter(
            _md5int(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
            % 1000000
            < F.col("threshold")
        )
    )
    return keep.groupBy("source", "threshold").agg(
        F.count("*").cast("bigint").alias("n_docs_kept"),
        F.sum("tok").cast("bigint").alias("tok_kept"),
    )


# -- 2. deterministic global shuffle + shard manifest ----------------------

N_SHARDS = 16


@register(
    "shuffle_shard_manifest",
    f"""
    WITH keyed AS (
      SELECT doc_id,
             {_sql_md5int("'shuf:' || CAST(doc_id AS VARCHAR)")} AS skey
      FROM documents
    )
    SELECT CAST(skey % {N_SHARDS} AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY skey % {N_SHARDS} ORDER BY skey, doc_id
           ) AS BIGINT) AS pos,
           doc_id
    FROM keyed
    """,
)
def shuffle_shard_manifest(spark, sf_dir):
    """Deterministic global training-order shuffle: every document gets a
    seeded hash key; shard = key mod N_SHARDS, position = rank of the key
    within its shard.  The (shard, pos) pair is a reproducible total
    order for epoch-0 data loading — same manifest on every run, engine,
    and cluster size, with no rand() and no driver-side zipWithIndex.

    Scale shape: one hash-partition shuffle on shard followed by a
    per-shard sort — exactly the physical layout a shard writer needs
    anyway, so the manifest is free at write time.  N_SHARDS scales with
    corpus size (shards of ~256MB-1GB at 100 TB => tens of thousands);
    the per-shard sort stays bounded because shard count grows with the
    data."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        _md5int(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string"))).alias(
            "skey"
        ),
    ).withColumn("shard", (F.col("skey") % N_SHARDS).cast("bigint"))
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return keyed.select(
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
        "doc_id",
    )


# -- 3. CCNet-style line-level dedup ---------------------------------------

LINE_WORDS = 10
_CHUNK_CAP = 1_000_000  # max chunks per document for the packed arg-min key


@register(
    "line_dedup_stats",
    rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents
    ),
    idx AS (
      SELECT doc_id, ws,
             unnest(range(CAST(ceil(len(ws) / {LINE_WORDS}.0) AS BIGINT))) AS i
      FROM w
    ),
    ch AS (
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             {_SQL_GRAM_HASH.replace("{x}", f"array_to_string(ws[i * {LINE_WORDS} + 1 : (i + 1) * {LINE_WORDS}], ' ')")} AS lh
      FROM idx
    ),
    keep AS (
      SELECT doc_id, chunk_idx,
             ROW_NUMBER() OVER (PARTITION BY lh ORDER BY doc_id, chunk_idx) AS rn
      FROM ch
    ),
    totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM ch GROUP BY doc_id),
    kept AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept
             FROM keep WHERE rn = 1 GROUP BY doc_id)
    SELECT t.doc_id, t.n_lines, COALESCE(k.n_kept, 0) AS n_kept
    FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
    """,
)
def line_dedup_stats(spark, sf_dir):
    """Line-level dedup across the corpus (CCNet's boilerplate removal,
    adapted to the fixture's flat word streams: a "line" is a
    LINE_WORDS-word chunk).  A chunk survives only at its first
    occurrence corpus-wide (ordered by doc_id, chunk position); the
    output is per-document total vs surviving line counts — the shape a
    cleaning pipeline uses to rewrite documents and to flag
    high-boilerplate sources.

    Scale shape: explode to (line-hash, doc, pos), then a single
    hash-aggregate on the 60-bit line hash (never the line text — the
    shuffle record is two BIGINTs) — map-side partial aggregation keeps
    the shuffle at one record per DISTINCT line, not per occurrence (the
    window-function formulation in the oracle would shuffle every
    occurrence; the groupBy-min here is the 100-TB form).  Hot lines
    (the whole point of the operator) cost one combiner slot each, no
    skew salting needed."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL text: size(NULL ws) is -1, and sequence(0, -1) DESCENDS to
    # [0, -1] — two phantom chunks the oracle's range(NULL) never emits.
    # Filter NULL ws so both engines agree: zero chunks.
    w = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    ).filter(F.col("ws").isNotNull())
    n_chunks = F.ceil(F.size("ws") / F.lit(LINE_WORDS)).cast("int")
    ch = w.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(F.col("ws"), i * LINE_WORDS + 1, LINE_WORDS), " "
                ),
            )
        ).alias("chunk_idx", "line"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        _gram_hash(F.col("line")).alias("lh"),
    )
    totals = ch.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_lines"))
    # (doc_id, chunk_idx) packed into one bigint so the arg-min is a plain
    # codegen HashAggregate (min over struct falls back to SortAggregate);
    # chunk_idx < _CHUNK_CAP bounds documents at _CHUNK_CAP * LINE_WORDS
    # words, loudly enforced rather than silently mis-ranked.
    first = (
        ch.select(
            "lh",
            (
                F.col("doc_id") * _CHUNK_CAP
                + F.when(
                    F.col("chunk_idx") < _CHUNK_CAP, F.col("chunk_idx")
                ).otherwise(
                    F.raise_error(
                        F.lit(f"line_dedup_stats: document exceeds {_CHUNK_CAP} chunks")
                    ).cast("bigint")
                )
            ).alias("k"),
        )
        .groupBy("lh")
        .agg(F.min("k").alias("k"))
    )
    kept = (
        first.select(F.expr(f"k div {_CHUNK_CAP}").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_kept"))
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
    )


# -- 4. substring-span dedup (suffix-array-style) --------------------------

SPAN_WORDS = 15


@register(
    "span_dedup_stats",
    rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id, ws,
             unnest(range(GREATEST(len(ws) - {SPAN_WORDS} + 1, 0))) AS pos
      FROM w
    ),
    sh AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             {_SQL_GRAM_HASH.replace("{x}", f"array_to_string(ws[pos + 1 : pos + {SPAN_WORDS}], ' ')")} AS h
      FROM g
    ),
    first AS (
      SELECT h, MIN(doc_id * {_CHUNK_CAP} + pos) AS mk FROM sh GROUP BY h
    ),
    dup AS (
      SELECT s.doc_id, s.pos
      FROM sh s JOIN first f ON s.h = f.h
      WHERE s.doc_id * {_CHUNK_CAP} + s.pos <> f.mk
    ),
    cov AS (
      SELECT doc_id,
             GREATEST(pos + {SPAN_WORDS}
               - GREATEST(COALESCE(MAX(pos + {SPAN_WORDS}) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), pos),
               0) AS covered
      FROM dup
    ),
    perdoc AS (
      SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS dup_tokens
      FROM cov GROUP BY doc_id
    )
    SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
           COALESCE(p.dup_tokens, 0) AS dup_tokens
    FROM w LEFT JOIN perdoc p ON w.doc_id = p.doc_id
    """,
)
def span_dedup_stats(spark, sf_dir):
    """Substring-span dedup, the suffix-array dedup of Lee et al.
    ("Deduplicating Training Data Makes Language Models Better")
    re-expressed as a distributed plan: every SPAN_WORDS-gram is hashed
    with its (doc, position); a gram survives only at its corpus-first
    occurrence, every later occurrence marks its span duplicated, and
    overlapping duplicated spans merge via a per-document running-max
    interval union.  Output = per-document total vs duplicated token
    counts (the rewrite step cuts the covered intervals).

    Scale shape: the shingle shuffle carries (hash BIGINT, packed
    position BIGINT) — 16 bytes per corpus token, never the text; the
    first-occurrence arg-min is ONE window min over h (optimization
    r14 — the earlier groupBy+join-back computed AND shuffled the
    exploded token stream twice: once into the min aggregate, once
    into the sort-merge join leg, which then sorted both legs on h
    anyway; the window form shuffles the stream once and sorts it
    once); the interval union is one window sorted within doc_id.
    That linear-in-corpus shuffle IS the honest cost of exact substring
    dedup (single-node suffix arrays trade it for a global sort); at
    100 TB you front it with the MinHash candidate filter
    (functions/dedup.py) and run this exact pass only on candidate
    groups.  All arithmetic is integer, so every partitioning and the
    DuckDB oracle agree exactly.

    ensure_parallelism: the per-token slice+hash explode is the
    dominant compute, and a single-file fixture scan otherwise runs it
    all in ONE task (no-op on a properly split big input)."""
    from .session import ensure_parallelism

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    w = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
    n_spans = F.size("ws") - F.lit(SPAN_WORDS - 1)
    # sequence(0, -k) would DESCEND; short docs contribute no shingles
    # (they still appear in the totals via the left join below)
    sh = w.filter(n_spans > 0).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_spans - 1)).alias("pos"),
        F.col("ws"),
    ).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        _gram_hash(
            F.array_join(F.slice("ws", F.col("pos") + 1, SPAN_WORDS), " ")
        ).alias("h"),
    )
    # same overflow guard as line_dedup_stats: a position bleeding past
    # _CHUNK_CAP would pack into the NEXT doc_id's keyspace and the
    # oracle would compute the same wrong value — fail loudly instead
    packed = (
        F.col("doc_id") * _CHUNK_CAP
        + F.when(F.col("pos") < _CHUNK_CAP, F.col("pos")).otherwise(
            F.raise_error(
                F.lit(f"span_dedup_stats: document exceeds {_CHUNK_CAP} spans")
            ).cast("bigint")
        )
    ).alias("pk")
    keyed = sh.select("doc_id", "pos", "h", packed)
    # first-occurrence arg-min as a WINDOW over h, not groupBy+join-back
    # (optimization r14, guide §2.4): the join form computed AND
    # shuffled the exploded shingle stream twice (one Exchange(h) into
    # the min aggregate, a second Exchange(h) into the sort-merge join
    # leg — the corpus-token-sized stream is the query's dominant
    # cost), then sorted both legs on h for the SMJ; the window form
    # shuffles the stream once and sorts it once (WindowExec groups by
    # partition key).  Plan: 14 Exchange -> 10, the h-keyed SMJ gone
    # (plans/r14/span_dedup_stats_{before,after}.txt); standalone A/B
    # same boot: warm medians 3.9 -> 2.0 s.  Same rows out:
    # pk != min(pk) per h, oracle-verified at sf0.001/sf0.01.
    wh = Window.partitionBy("h")
    dup = (
        keyed.withColumn("mk", F.min("pk").over(wh))
        .filter(F.col("pk") != F.col("mk"))
        .select("doc_id", "pos")
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = dup.select(
        "doc_id",
        F.greatest(
            F.col("pos")
            + SPAN_WORDS
            - F.greatest(
                F.coalesce(F.max(F.col("pos") + SPAN_WORDS).over(win), F.lit(0)),
                F.col("pos"),
            ),
            F.lit(0),
        ).alias("covered"),
    )
    perdoc = cov.groupBy("doc_id").agg(
        F.sum("covered").cast("bigint").alias("dup_tokens")
    )
    return (
        w.select("doc_id", F.size("ws").cast("bigint").alias("n_tokens"))
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0).cast("bigint")).alias("dup_tokens"),
        )
    )


# -- 5. overlapping chunking (RAG / context windows) -----------------------

CHUNK_TOKENS = 50
CHUNK_STRIDE = 40  # 10-token overlap between consecutive chunks


@register(
    "chunk_documents",
    rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents
    ),
    idx AS (
      SELECT doc_id, ws,
             unnest(range(CAST(
               ceil(GREATEST(len(ws) - {CHUNK_TOKENS}, 0) / {CHUNK_STRIDE}.0)
             AS BIGINT) + 1)) AS i
      FROM w
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           CAST(i * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
           CAST(LEAST({CHUNK_TOKENS}, len(ws) - i * {CHUNK_STRIDE}) AS BIGINT) AS n_tok,
           array_to_string(ws[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ') AS chunk_text
    FROM idx
    """,
)
def chunk_documents(spark, sf_dir):
    """Overlapping sliding-window chunking (the RAG / context-window
    splitter): CHUNK_TOKENS-token windows advancing CHUNK_STRIDE tokens,
    so consecutive chunks share CHUNK_TOKENS-CHUNK_STRIDE tokens of
    context.  Chunk count = ceil(max(n-W,0)/S)+1 — every token lands in
    at least one chunk and the final chunk is never empty.

    Scale shape: pure per-row explode+projection, no shuffle on a
    properly split input; ensure_parallelism spreads the single-file
    fixture scan so the explode (and the tokenize stages downstream in
    pipeline_rag_retrieval) doesn't serialize through one task."""
    from .session import ensure_parallelism

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # NULL text yields NO chunks (oracle: range over a NULL count emits
    # zero rows; unguarded, size(NULL)=-1 fabricates a phantom chunk)
    w = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    ).filter(F.col("ws").isNotNull())
    n_chunks = (
        F.ceil(F.greatest(F.size("ws") - F.lit(CHUNK_TOKENS), F.lit(0)) / F.lit(CHUNK_STRIDE))
        + 1
    ).cast("int")
    return w.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
        "ws",
    ).select(
        "doc_id",
        F.col("i").cast("bigint").alias("chunk_id"),
        (F.col("i") * CHUNK_STRIDE).cast("bigint").alias("start_tok"),
        F.least(
            F.lit(CHUNK_TOKENS), F.size("ws") - F.col("i") * CHUNK_STRIDE
        ).cast("bigint").alias("n_tok"),
        F.array_join(
            F.slice(F.col("ws"), F.col("i") * CHUNK_STRIDE + 1, CHUNK_TOKENS), " "
        ).alias("chunk_text"),
    )


def _chunks_udtf():
    """Build the sliding-window chunker UDTF (module-level so repeat
    registrations pickle identically — see chunk_documents_udtf).

    useArrow: the lateral rows cross the Python boundary as Arrow
    batches (plan node ArrowEvalPythonUDTF), not pickled row-at-a-time
    (BatchEvalPythonUDTF) — the same batch-transfer rule every other
    Python hop in the repo follows (tools/plan_lint.py enforces it)."""
    from pyspark.sql.functions import udtf

    W, S = CHUNK_TOKENS, CHUNK_STRIDE

    @udtf(returnType="chunk_id bigint, start_tok bigint, n_tok bigint", useArrow=True)
    class chunks:
        def eval(self, n_words: int):
            n_chunks = max(0, -(-(max(n_words - W, 0)) // S)) + 1
            for i in range(n_chunks):
                yield i, i * S, min(W, n_words - i * S)

    return chunks


_CHUNK_UDTF_ORACLE = rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents
    ),
    idx AS (
      SELECT doc_id, ws,
             unnest(range(CAST(
               ceil(GREATEST(len(ws) - {CHUNK_TOKENS}, 0) / {CHUNK_STRIDE}.0)
             AS BIGINT) + 1)) AS i
      FROM w
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           CAST(i * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
           CAST(LEAST({CHUNK_TOKENS}, len(ws) - i * {CHUNK_STRIDE}) AS BIGINT) AS n_tok
    FROM idx
    """


@register("chunk_documents_udtf", _CHUNK_UDTF_ORACLE)
def chunk_documents_udtf(spark, sf_dir):
    """The sliding-window chunker as a PYTHON UDTF (Spark 4's
    user-defined TABLE function surface, SURVEY §2.9 — the reference
    has no user-extensible function mechanism at all, so this
    demonstrates the extension point its condition DSL grows into):
    one lateral-joined ``chunks(...)`` call per document row expands to
    N chunk rows, with the row-multiplying logic in Python instead of
    an explode expression. Same window/stride arithmetic as the
    expression-based ``chunk_documents``, same oracle (minus the text
    column — the UDTF emits offsets only, keeping the Python hop
    payload-free, which is exactly how you'd use a UDTF against 100 TB:
    emit coordinates, let columnar ops slice). The declarative
    ``chunk_documents`` remains the hot-path form; this pins that the
    UDTF surface WORKS end to end and value-matches it."""
    # Register ONCE per session: a fresh @udtf class per call pickles to
    # fresh bytes, so every bench lap shipped a new function payload and
    # repeat runs paid avoidable (re)serialization/registration.  The
    # session's OWN catalog is the registration record — an id(spark)
    # cache would break when CPython reuses a stopped session's address
    # (the new session would silently skip registration and the SQL
    # below would fail to resolve ssqe_chunks).
    if not spark.catalog.functionExists("ssqe_chunks"):
        spark.udtf.register("ssqe_chunks", _chunks_udtf())
    docs = load_table(spark, sf_dir, "documents")
    # Repartition the narrow (doc_id, n_words) projection BEFORE the
    # Python hop: the fixture is one parquet file -> one input split ->
    # the whole lateral join ran through a SINGLE Python worker (the
    # r8 bench's 3x "regression" was exactly this serial hop; the
    # expression twin is JVM codegen, so one task costs it nothing).
    # The shuffle moves two ints per doc — trivially cheap against a
    # Python-boundary crossing per row; at 100 TB the scan arrives
    # pre-split and the repartition is a no-op-sized rebalance.
    docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_words")
    ).repartition(
        spark.sparkContext.defaultParallelism
    ).createOrReplaceTempView("_chunk_src")  # NULL text: no chunks (see chunk_documents)
    return spark.sql(
        """
        SELECT s.doc_id, c.chunk_id, c.start_tok, c.n_tok
        FROM _chunk_src s, LATERAL ssqe_chunks(s.n_words) c
        """
    )


# -- 6. capstone: composed pretraining-prep pipeline -----------------------


@register(
    "pipeline_pretrain_prep",
    None,  # SQL assembled below (needs catalog_text constants)
)
def pipeline_pretrain_prep(spark, sf_dir):
    """The end-to-end pretraining-prep pipeline as ONE declarative plan:
    quality + language gate -> exact dedup on the normalized fingerprint
    -> temperature mixture sampling to a token budget -> GPT-style
    sequence packing of the surviving corpus.  Every stage reuses the
    individually-oracled operator's exact formula (catalog_text quality /
    fingerprint / packing, catalog_mixture thresholds), so this query
    proves the operators COMPOSE: the driver value-checks the whole
    chain against a single DuckDB CTE pipeline.

    Scale shape inherits from the pieces: gates fuse into the scan, the
    dedup is one shuffle on the fingerprint, mixture rates are a tiny
    broadcast, and the packing cumsum is the sharded two-level form (no
    single-task global window)."""
    from .catalog_text import PACK_CAPACITY, PACK_SHARD
    from .functions import text as tx

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "source",
        tx.word_token_count(t).alias("n_tok"),
        tx.quality_score(t).alias("quality"),
        tx.fingerprint(t).alias("fp"),
        "lang",
    ).filter((F.col("quality") >= 0.35) & F.col("lang").isin("en", "de"))
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        scored.withColumn("_rn", F.row_number().over(w_fp))
        .filter((F.col("_rn") == 1) & (F.col("n_tok") > 0))
        .select("doc_id", "source", "n_tok")
    )
    per_src = deduped.groupBy("source").agg(
        F.sum("n_tok").alias("t_src"),
        F.expr(
            f"CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE)) * {_W_SCALE}) AS BIGINT)"
        ).alias("w"),
    )
    glob = per_src.agg(F.sum("w").alias("w_sum"), F.sum("t_src").alias("t_tot"))
    rates = per_src.join(F.broadcast(glob)).select(
        "source", F.expr(_THRESH_SQL).alias("threshold")
    )
    sampled = (
        deduped.join(F.broadcast(rates), "source")
        .filter(
            _md5int(F.concat(F.lit("prep:"), F.col("doc_id").cast("string")))
            % 1000000
            < F.col("threshold")
        )
        .select("doc_id", "source", "n_tok")
    )
    toks = sampled.withColumn("_shard", F.expr(f"doc_id div {PACK_SHARD}"))
    in_shard = Window.partitionBy("_shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = toks.withColumn("_local_end", F.sum("n_tok").over(in_shard))
    shard_order = Window.orderBy("_shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        toks.groupBy("_shard")
        .agg(F.sum("n_tok").alias("_total"))
        .select(
            "_shard",
            (F.sum("_total").over(shard_order) - F.col("_total")).alias("_base"),
        )
    )
    return local.join(F.broadcast(offsets), "_shard").select(
        "doc_id",
        "source",
        "n_tok",
        (F.col("_base") + F.col("_local_end") - F.col("n_tok")).alias("start_off"),
        F.expr(f"(_base + _local_end - n_tok) div {PACK_CAPACITY}").alias("first_seq"),
        F.expr(f"(_base + _local_end - 1) div {PACK_CAPACITY}").alias("last_seq"),
    )


def _pretrain_prep_oracle() -> str:
    from .catalog_text import _QUALITY_PAT, PACK_CAPACITY

    return rf"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok,
             ROUND(
               LEAST(1.0, len(regexp_extract_all(lower(text), '{_QUALITY_PAT}'))
                  / GREATEST((CASE WHEN coalesce(trim(text), '') = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END), 1)) * 0.4
               + LEAST(1.0, (CASE WHEN coalesce(trim(text), '') = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END) / 50.0) * 0.3
               + (1.0 - len(regexp_extract_all(text, '[.,!?;:]'))
                    / GREATEST(length(text), 1)) * 0.3, 4) AS quality,
             md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
             lang
      FROM documents
    ),
    deduped AS (
      SELECT doc_id, source, n_tok FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM scored WHERE quality >= 0.35 AND lang IN ('en', 'de')
      ) WHERE rn = 1 AND n_tok > 0
    ),
    per_src AS (
      SELECT source, SUM(n_tok) AS t_src,
             CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE)) * {_W_SCALE}) AS BIGINT) AS w
      FROM deduped GROUP BY source
    ),
    totals AS (SELECT SUM(w) AS w_sum, SUM(t_src) AS t_tot FROM per_src),
    rates AS (
      SELECT source, {_THRESH_SQL} AS threshold
      FROM per_src CROSS JOIN totals
    ),
    sampled AS (
      SELECT d.doc_id, d.source, d.n_tok
      FROM deduped d JOIN rates r ON d.source = r.source
      WHERE {_sql_md5int("'prep:' || CAST(d.doc_id AS VARCHAR)")} % 1000000 < r.threshold
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS end_off
      FROM sampled
    )
    SELECT doc_id, source, n_tok,
           CAST(end_off - n_tok AS BIGINT) AS start_off,
           CAST((end_off - n_tok) // {PACK_CAPACITY} AS BIGINT) AS first_seq,
           CAST((end_off - 1) // {PACK_CAPACITY} AS BIGINT) AS last_seq
    FROM c
    """


from .catalog import ORACLE as _ORACLE  # noqa: E402

_ORACLE["pipeline_pretrain_prep"] = _pretrain_prep_oracle()

# -- CCNet-style quality-bucket resampling ---------------------------------

QB_RATES = {"head": 100, "middle": 50, "tail": 10}  # keep-rate percent


def _qb_oracle() -> str:
    from .catalog_text import _QUALITY_PAT

    quality = rf"""ROUND(
             LEAST(1.0, len(regexp_extract_all(lower(text), '{_QUALITY_PAT}'))
                / GREATEST((CASE WHEN coalesce(trim(text), '') = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END), 1)) * 0.4
             + LEAST(1.0, (CASE WHEN coalesce(trim(text), '') = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END) / 50.0) * 0.3
             + (1.0 - len(regexp_extract_all(text, '[.,!?;:]'))
                  / GREATEST(length(text), 1)) * 0.3, 4)"""
    keep_hash = _sql_md5int("'qb:' || CAST(q.doc_id AS VARCHAR)")
    return f"""
    WITH q AS (SELECT doc_id, {quality} AS quality FROM documents),
    h AS (SELECT quality, count(*) AS c FROM q GROUP BY quality),
    cu AS (SELECT quality, sum(c) OVER (ORDER BY quality DESC
                                        ROWS UNBOUNDED PRECEDING) AS cum
           FROM h),
    n AS (SELECT count(*) AS n_docs FROM q)
    SELECT q.doc_id, q.quality,
           CASE WHEN cu.cum * 3 <= n.n_docs THEN 'head'
                WHEN cu.cum * 3 <= 2 * n.n_docs THEN 'middle'
                ELSE 'tail' END AS bucket,
           ({keep_hash}) % 100 <
             CASE WHEN cu.cum * 3 <= n.n_docs THEN {QB_RATES["head"]}
                  WHEN cu.cum * 3 <= 2 * n.n_docs THEN {QB_RATES["middle"]}
                  ELSE {QB_RATES["tail"]} END AS kept
    FROM q JOIN cu ON q.quality = cu.quality CROSS JOIN n
    """


@register("quality_bucket_sample", _qb_oracle())
def quality_bucket_sample(spark, sf_dir):
    """CCNet-style quality-tercile resampling (Wenzek et al. 2020 bucket
    documents by LM perplexity into head/middle/tail and keep each bucket
    at a different rate; here the composite quality score stands in for
    perplexity). Bucket boundaries come from the score's VALUE histogram,
    not a global row sort: quality is rounded to 4 decimals, so the
    histogram has at most 10^4 rows regardless of corpus size — the
    cumulative window runs over that tiny table while the corpus itself
    only does one hash aggregate and one broadcast join back. (A naive
    NTILE(3) over all documents would be a single-task global sort — the
    classic 100 TB bottleneck this formulation avoids.) Ties share a
    value, hence a bucket, so the split is deterministic; per-doc keep
    decisions are seeded-hash, never rand()."""
    from .functions import text as tx

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select("doc_id", tx.quality_score(F.col("text")).alias("quality"))
    h = q.groupBy("quality").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.col("quality").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cu = h.select("quality", F.sum("c").over(w).alias("cum"))
    n = q.agg(F.count("*").alias("n_docs"))
    bucket = (
        F.when(F.col("cum") * 3 <= F.col("n_docs"), "head")
        .when(F.col("cum") * 3 <= 2 * F.col("n_docs"), "middle")
        .otherwise("tail")
    )
    rate = (
        F.when(F.col("cum") * 3 <= F.col("n_docs"), QB_RATES["head"])
        .when(F.col("cum") * 3 <= 2 * F.col("n_docs"), QB_RATES["middle"])
        .otherwise(QB_RATES["tail"])
    )
    return (
        q.join(F.broadcast(cu), "quality")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "quality",
            bucket.alias("bucket"),
            (
                _md5int(F.concat(F.lit("qb:"), F.col("doc_id").cast("string"))) % 100
                < rate
            ).alias("kept"),
        )
    )



# -- DSIR hashed-n-gram importance weights ---------------------------------

DSIR_BUCKETS = 10_000
DSIR_TARGET_LANG = "en"  # target-domain stand-in: English documents

_DSIR_TOK = "regexp_extract_all(lower(text), '[a-z0-9]+')"
# bigram feature ids: md5-bucketed into DSIR_BUCKETS, identical in both
# engines (first 8 md5 hex chars as bigint, mod buckets)


def _dsir_oracle() -> str:
    feat_hash = _sql_md5int("bg")
    return f"""
    WITH tok AS (SELECT doc_id, lang, {_DSIR_TOK} AS w FROM documents),
    bg AS (
      SELECT doc_id, lang,
             list_transform(range(2, len(w) + 1),
                            _bg -> w[_bg - 1] || ' ' || w[_bg]) AS bgs
      FROM tok
    ),
    feat AS (
      SELECT doc_id, lang, ({feat_hash}) % {DSIR_BUCKETS} AS f
      FROM (SELECT doc_id, lang, unnest(bgs) AS bg FROM bg)
    ),
    doc_feat AS (SELECT doc_id, f, count(*) AS c FROM feat GROUP BY doc_id, f),
    tgt AS (SELECT f, count(*) AS c FROM feat
            WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY f),
    raw AS (SELECT f, count(*) AS c FROM feat GROUP BY f),
    tot AS (SELECT (SELECT count(*) FROM feat
                    WHERE lang = '{DSIR_TARGET_LANG}') AS n_tgt,
                   (SELECT count(*) FROM feat) AS n_raw)
    SELECT df.doc_id,
           ROUND(sum(df.c * (ln((COALESCE(tgt.c, 0) + 1.0)
                                / (tot.n_tgt + {DSIR_BUCKETS}))
                             - ln((raw.c + 1.0)
                                  / (tot.n_raw + {DSIR_BUCKETS})))), 6)
             AS log_weight
    FROM doc_feat df
    LEFT JOIN tgt ON df.f = tgt.f
    JOIN raw ON df.f = raw.f
    CROSS JOIN tot
    GROUP BY df.doc_id
    """


@register("dsir_importance_weights", _dsir_oracle())
def dsir_importance_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log-likelihood ratio of its hashed-bigram features under a
    target-domain distribution vs the raw-corpus distribution; resampling
    proportional to exp(log_weight) then selects raw data that "looks
    like" the target. Here the English subset stands in for the target
    domain, with add-1 smoothing over the hash buckets.

    Scale shape: one corpus-sized explode -> hash-aggregate for per-doc
    feature counts; BOTH distribution tables are bounded by the bucket
    count (10^4 rows, broadcast) no matter the corpus size, as are the
    two scalar totals — so the plan is two broadcast joins and two hash
    aggregates, no window, nothing quadratic. The bigram build is an
    array transform inside codegen (no per-token shuffle for a lag
    window)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0).alias("w"),
    )
    # size guard: Spark's sequence(2, n) runs DESCENDING when n < 2,
    # which would fabricate null bigrams for 0/1-token docs; DuckDB's
    # range() is empty there, so filter to keep the engines aligned.
    bg = tok.filter(F.size("w") >= 2).select(
        "doc_id", "lang",
        F.explode(
            F.expr("transform(sequence(2, size(w)), i -> concat(w[i-2], ' ', w[i-1]))")
        ).alias("bg"),
    )
    feat = bg.select(
        "doc_id", "lang", (_md5int(F.col("bg")) % DSIR_BUCKETS).alias("f")
    )
    doc_feat = feat.groupBy("doc_id", "f").agg(F.count("*").alias("c"))
    tgt = (
        feat.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("f").agg(F.count("*").alias("tc"))
    )
    raw = feat.groupBy("f").agg(F.count("*").alias("rc"))
    tot = feat.agg(
        F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)).alias("n_tgt"),
        F.count("*").alias("n_raw"),
    )
    return (
        doc_feat.join(F.broadcast(tgt), "f", "left")
        .join(F.broadcast(raw), "f")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("c")
                    * (
                        F.log(
                            (F.coalesce(F.col("tc"), F.lit(0)) + F.lit(1.0))
                            / (F.col("n_tgt") + F.lit(DSIR_BUCKETS))
                        )
                        - F.log(
                            (F.col("rc") + F.lit(1.0))
                            / (F.col("n_raw") + F.lit(DSIR_BUCKETS))
                        )
                    )
                ),
                6,
            ).alias("log_weight")
        )
    )



DSIR_SAMPLE_K = 100


def _dsir_resample_oracle() -> str:
    h = _sql_md5int("'rs:' || CAST(doc_id AS VARCHAR)")
    u = f"(({h}) + 1.0) / 4294967297.0"
    return f"""
    WITH dw AS ({_dsir_oracle()})
    SELECT doc_id, log_weight, rank_key FROM (
      SELECT doc_id, log_weight,
             ROUND(ln(-ln({u})) - log_weight, 6) AS rank_key,
             row_number() OVER (
               ORDER BY ROUND(ln(-ln({u})) - log_weight, 6), doc_id) AS rn
      FROM dw
    ) WHERE rn <= {DSIR_SAMPLE_K}
    """


@register("dsir_resample", _dsir_resample_oracle())
def dsir_resample(spark, sf_dir):
    """Weighted sampling-without-replacement over the DSIR importance
    weights — the SELECTION step of importance resampling (Xie et al.
    2023), via the Efraimidis-Spirakis exponential race: draw
    e_i = -ln(u_i) / w_i with w_i = exp(log_weight_i) and keep the k
    smallest. In log space the race key is ln(-ln(u)) - log_weight, so
    exp() never overflows. u_i is a seeded md5 uniform in (0,1) — never
    rand() — so the selected set is identical across runs, engines, and
    partitionings.

    Scale shape: reuses the DSIR weight plan (broadcast distribution
    tables, two hash aggregates) and adds only a TakeOrderedAndProject
    top-k — per-partition heaps of k rows, no global sort, no window."""
    w = dsir_importance_weights(spark, sf_dir)
    u = (
        _md5int(F.concat(F.lit("rs:"), F.col("doc_id").cast("string"))) + F.lit(1.0)
    ) / F.lit(4294967297.0)
    key = F.round(F.log(-F.log(u)) - F.col("log_weight"), 6)
    return (
        w.select("doc_id", "log_weight", key.alias("rank_key"))
        .orderBy("rank_key", "doc_id")
        .limit(DSIR_SAMPLE_K)
    )


# -- winnowing fingerprints (MOSS) -----------------------------------------

WIN_K = 3   # word k-grams
WIN_W = 4   # winnowing window (in grams)
_WIN_POS_CAP = 1 << 20  # position pack base; widen for multi-MB documents


def _winnow_oracle() -> str:
    gram = f"array_to_string(ws[pos + 1 : pos + {WIN_K}], ' ')"
    h = _sql_md5int(gram)
    packed = f"({h}) * {_WIN_POS_CAP} + ({_WIN_POS_CAP - 1} - pos)"
    return rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id, ws,
             unnest(range(GREATEST(len(ws) - {WIN_K} + 1, 0))) AS pos
      FROM w
    ),
    sh AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, {packed} AS pk
      FROM g
    ),
    sel AS (
      SELECT DISTINCT doc_id,
             MIN(pk) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN {WIN_W - 1} PRECEDING
                                    AND CURRENT ROW) AS fp
      FROM sh
      QUALIFY pos >= {WIN_W - 1}
    ),
    perdoc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_fingerprints,
             CAST(sum(fp // {_WIN_POS_CAP}) AS BIGINT) AS fp_hash_sum,
             CAST(min({_WIN_POS_CAP - 1} - (fp % {_WIN_POS_CAP})) AS BIGINT)
               AS first_fp_pos
      FROM sel GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(GREATEST(len(w.ws) - {WIN_K} + 1, 0) AS BIGINT) AS n_grams,
           COALESCE(p.n_fingerprints, 0) AS n_fingerprints,
           COALESCE(p.fp_hash_sum, 0) AS fp_hash_sum,
           COALESCE(p.first_fp_pos, -1) AS first_fp_pos
    FROM w LEFT JOIN perdoc p ON w.doc_id = p.doc_id
    """


@register("winnow_fingerprints", _winnow_oracle())
def winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local fingerprinting algorithm): hash every word
    k-gram, slide a window of W gram positions, and select each
    window's minimum hash, breaking ties toward the RIGHTMOST position.
    The guarantee: any shared substring of at least W + K - 1 words
    yields at least one shared fingerprint, while only ~2/(W+1) of all
    grams are kept — the index behind near-match detection at corpus
    scale.

    The rightmost-min tie rule rides the same packed-bigint arg-min
    trick as line_dedup_stats: pk = h * 2^20 + (2^20-1 - pos), so
    MIN(pk) picks the smallest hash and, among equal hashes, the
    largest position — one codegen window MIN, no struct comparators.
    Scale shape: explode grams (16 bytes each on the wire), ONE shuffle
    on doc_id for the window + per-doc aggregate; nothing global,
    nothing quadratic. At 100 TB the selected-fingerprint table (~2/W+1
    of gram count) is what feeds a (fingerprint -> docs) inverted index
    via one more groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
    n_grams = F.greatest(F.size("ws") - F.lit(WIN_K - 1), F.lit(0))
    sh = w.filter(n_grams > 0).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_grams - 1)).alias("pos"),
        F.col("ws"),
    ).select(
        "doc_id",
        # Loud guard (mirrors _with_norm's dim check): a doc with >= 2^20
        # word grams would drive the packed offset negative and silently
        # bleed into the hash field — and the oracle computes the SAME
        # wrong value, so only an executor-side error can surface it.
        F.when(F.col("pos") < F.lit(_WIN_POS_CAP), F.col("pos").cast("bigint"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "winnow_fingerprints: gram position >= pack base "
                        f"{_WIN_POS_CAP}; widen _WIN_POS_CAP for doc_id "
                    ),
                    F.col("doc_id").cast("string"),
                )
            )
        )
        .alias("pos"),
        (
            _md5int(F.array_join(F.slice("ws", F.col("pos") + 1, WIN_K), " "))
            * F.lit(_WIN_POS_CAP)
            + (F.lit(_WIN_POS_CAP - 1) - F.col("pos"))
        ).alias("pk"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WIN_W - 1), Window.currentRow)
    )
    sel = (
        sh.select("doc_id", "pos", F.min("pk").over(win).alias("fp"))
        .filter(F.col("pos") >= WIN_W - 1)
        .select("doc_id", "fp")
        .distinct()
    )
    perdoc = sel.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fingerprints"),
        F.sum((F.col("fp") / F.lit(_WIN_POS_CAP)).cast("bigint"))
        .cast("bigint").alias("fp_hash_sum"),
        F.min(F.lit(_WIN_POS_CAP - 1) - (F.col("fp") % F.lit(_WIN_POS_CAP)))
        .cast("bigint").alias("first_fp_pos"),
    )
    return (
        w.select("doc_id", n_grams.cast("bigint").alias("n_grams"))
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_fingerprints", F.lit(0)).alias("n_fingerprints"),
            F.coalesce("fp_hash_sum", F.lit(0)).alias("fp_hash_sum"),
            F.coalesce("first_fp_pos", F.lit(-1)).alias("first_fp_pos"),
        )
    )


# --------------------------------------------------------------------------
# UniMax budget allocation (round 6)
# --------------------------------------------------------------------------

UNIMAX_EPOCH_CAP = 4       # no source repeats more than 4 epochs
UNIMAX_BUDGET_NUM = 2      # budget = 2x total corpus tokens


@register(
    "unimax_allocation",
    rf"""
    WITH d AS (SELECT source, {_TOK_SQL} AS tok FROM documents),
    per_src AS (SELECT source, CAST(SUM(tok) AS BIGINT) AS t_src FROM d GROUP BY source),
    caps AS (
      SELECT source, t_src, {UNIMAX_EPOCH_CAP} * t_src AS cap,
             row_number() OVER (ORDER BY {UNIMAX_EPOCH_CAP} * t_src, source) AS rn,
             count(*) OVER () AS k,
             COALESCE(SUM({UNIMAX_EPOCH_CAP} * t_src)
               OVER (ORDER BY {UNIMAX_EPOCH_CAP} * t_src, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
             {UNIMAX_BUDGET_NUM} * SUM(t_src) OVER () AS budget
      FROM per_src
    ),
    cand AS (
      SELECT *, (budget - prefix) // (k - rn + 1) AS tau_cand FROM caps
    ),
    taud AS (
      SELECT *,
             max(CASE WHEN cap >= tau_cand THEN tau_cand END) OVER () AS tau
      FROM cand
    )
    SELECT source, t_src,
           CAST(cap AS BIGINT) AS cap_tokens,
           CAST(least(cap, tau) AS BIGINT) AS alloc_tokens,
           CAST((least(cap, tau) * 1000) // t_src AS BIGINT) AS epochs_milli
    FROM taud
    """,
)
def unimax_allocation(spark, sf_dir):
    """UniMax sampling-budget allocation (Chung et al. 2023, public):
    spread a token budget as uniformly as possible across sources,
    capped at EPOCH_CAP repetitions of any source — the fairer
    alternative to temperature mixtures for low-resource sources.  The
    water-filling solve is CLOSED FORM over the |sources|-row totals
    table: sort by capacity ascending; each row's candidate is
    remaining-budget ÷ remaining-sources (a prefix-sum window), and the
    waterline τ is the candidate of the FIRST row whose own capacity can
    absorb it — which is the MAX over qualifying candidates (candidates
    strictly decrease past the waterline, can go negative, and every
    negative candidate trivially "qualifies", so min() would pick
    garbage; the max form is also engine-safe because floor-vs-truncate
    division differences only exist on the negative candidates max
    ignores).  alloc = min(cap, τ).  Exact integer floor division
    throughout — bit-identical to the oracle on any partition layout.
    Corpus-scale work is ONE scan + one token aggregate; budget, prefix,
    and τ are all WINDOWS over the tiny per-source table (no second
    corpus scan — the whole solve is one linear plan).  Σ alloc ≤
    budget with integer slack < |sources|
    (tests/test_analytics.py::test_unimax_waterfilling_invariants)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        tx.ws_token_count(F.col("text")).alias("tok"),
    )
    per_src = d.groupBy("source").agg(F.sum("tok").alias("t_src"))
    cap = (F.lit(UNIMAX_EPOCH_CAP) * F.col("t_src")).alias("cap")
    w = Window.orderBy(F.lit(UNIMAX_EPOCH_CAP) * F.col("t_src"), F.col("source"))
    wall = Window.partitionBy()
    caps = (
        per_src.select("source", "t_src", cap)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("k", F.count(F.lit(1)).over(wall))
        .withColumn(
            "prefix",
            F.coalesce(
                F.sum("cap").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn(
            "budget", F.lit(UNIMAX_BUDGET_NUM) * F.sum("t_src").over(wall)
        )
    )
    cand = caps.withColumn(
        "tau_cand", F.expr("(budget - prefix) div (k - rn + 1)")
    )
    taud = cand.withColumn(
        "tau",
        F.max(
            F.when(F.col("cap") >= F.col("tau_cand"), F.col("tau_cand"))
        ).over(wall),
    )
    return taud.select(
        "source",
        F.col("t_src").cast("bigint").alias("t_src"),
        F.col("cap").cast("bigint").alias("cap_tokens"),
        F.least(F.col("cap"), F.col("tau")).cast("bigint").alias("alloc_tokens"),
        F.expr("(least(cap, tau) * 1000) div t_src").cast("bigint").alias(
            "epochs_milli"
        ),
    )


# --------------------------------------------------------------------------
# RAG retrieval capstone: chunk -> sparse (BM25-over-chunks) + dense
# (parent-doc embedding cosine) -> reciprocal-rank fusion, as ONE plan
# with ONE CTE oracle.  The retrieval-side twin of the pretraining
# capstone pipeline_pretrain_prep: every stage reuses an individually
# value-checked formula (chunk_documents, the BM25 weighting, the
# brute-force cosine, the RRF combiner) and the composed chain is
# value-checked end to end.
# --------------------------------------------------------------------------

RAG_LEG_K = 50
RAG_TOP_K = 20


def _rag_oracle() -> str:
    from .catalog_text import BM25_B, BM25_K1, BM25_QUERY_TERMS

    terms = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    return rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents
    ),
    idx AS (
      SELECT doc_id, ws,
             unnest(range(CAST(
               ceil(GREATEST(len(ws) - {CHUNK_TOKENS}, 0) / {CHUNK_STRIDE}.0)
             AS BIGINT) + 1)) AS i
      FROM w
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
             array_to_string(ws[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ') AS chunk_text
      FROM idx
    ),
    qt(term) AS (VALUES {terms}),
    tok AS (
      SELECT doc_id, chunk_id,
             unnest(regexp_extract_all(lower(chunk_text), '[a-z0-9]+')) AS term
      FROM chunks
    ),
    dl AS (SELECT doc_id, chunk_id, count(*) AS dl FROM tok GROUP BY doc_id, chunk_id),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
    tf AS (SELECT doc_id, chunk_id, term, count(*) AS tf
           FROM tok GROUP BY doc_id, chunk_id, term),
    dfq AS (SELECT tf.term, count(*) AS df FROM tf JOIN qt ON tf.term = qt.term
            GROUP BY tf.term),
    scored AS (
      SELECT tf.doc_id, tf.chunk_id,
             ln(1 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                    + {BM25_B} * dl.dl / stats.avgdl)) AS part
      FROM tf JOIN dfq ON tf.term = dfq.term
              JOIN dl ON tf.doc_id = dl.doc_id AND tf.chunk_id = dl.chunk_id
              CROSS JOIN stats
    ),
    kw AS (
      SELECT doc_id, chunk_id, rn AS rank_kw FROM (
        SELECT doc_id, chunk_id, row_number() OVER (
                 ORDER BY ROUND(sum(part), 6) DESC, doc_id, chunk_id) AS rn
        FROM scored GROUP BY doc_id, chunk_id
      ) WHERE rn <= {RAG_LEG_K}
    ),
    qvec AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    dsim AS (
      SELECT e.vec_id AS doc_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                          q.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
      CROSS JOIN qvec q
    ),
    vec AS (
      SELECT doc_id, chunk_id, rn AS rank_vec FROM (
        SELECT c.doc_id, c.chunk_id, row_number() OVER (
                 ORDER BY s.sim DESC, c.doc_id, c.chunk_id) AS rn
        FROM chunks c JOIN dsim s ON c.doc_id = s.doc_id
      ) WHERE rn <= {RAG_LEG_K}
    ),
    fused AS (
      SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
             COALESCE(kw.chunk_id, vec.chunk_id) AS chunk_id,
             kw.rank_kw, vec.rank_vec,
             ROUND(COALESCE(1.0 / (60 + kw.rank_kw), 0.0)
                   + COALESCE(1.0 / (60 + vec.rank_vec), 0.0), 6) AS rrf_score
      FROM kw FULL OUTER JOIN vec
        ON kw.doc_id = vec.doc_id AND kw.chunk_id = vec.chunk_id
    )
    SELECT doc_id, chunk_id, rrf_score, rank_kw, rank_vec FROM (
      SELECT fused.*, row_number() OVER (
               ORDER BY rrf_score DESC, doc_id, chunk_id) AS rn
      FROM fused
    ) WHERE rn <= {RAG_TOP_K}
    """


@register("pipeline_rag_retrieval", _rag_oracle())
def pipeline_rag_retrieval(spark, sf_dir):
    """RAG first-stage retrieval as one composed plan: the corpus is
    chunked (chunk_documents formula), the sparse leg scores chunks with
    BM25 over the chunk tokenization, the dense leg scores each chunk by
    its PARENT document's embedding cosine against the query vector
    (doc-level embeddings are what the fixtures carry — chunk-level
    embeddings would ride the identical join), and the legs fuse by
    reciprocal rank (1/(60+rank)).

    Scale shape: chunking is a zero-shuffle explode; the BM25 leg's
    only corpus-sized shuffles are the two chunk-token aggregations;
    the dense leg broadcasts one query vector over a linear codegen
    scan; both legs cut to RAG_LEG_K via TakeOrderedAndProject, so the
    fusion (windows + full-outer join) touches at most 2*K rows. This
    is the plan a sparse+dense retrieval stack runs per query batch —
    with the persisted BM25 index (bm25_indexed_search) and the IVF
    probe swapped in for the scan-time legs at serving scale.

    Built as ONE generated Spark-SQL text (optimization r15, verdict r14
    ask #4): the DataFrame form cost ~2,500 py4j round trips (~1.0 s of
    socket time, cProfile-verified) of plan construction per call; a
    single ``spark.sql`` with DataFrame kwargs is a handful.  Every
    expression is the same tree the Column API built (chunk formula,
    query-term-filtered tf, unrolled 64-term dot, rounded tie-breaks,
    broadcast hints); results are value-pinned by the DuckDB oracle at
    sf0.001/0.01/0.1 (rows + schema + hash)."""
    from .session import ensure_parallelism

    docs_par = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return spark.sql(
        _rag_sql(), documents_par=docs_par, documents=docs, embeddings=emb
    )


def _rag_sql() -> str:
    from .catalog_text import BM25_PART_SQL, BM25_QUERY_TERMS, _vec_sql_parts

    terms = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    v = _vec_sql_parts()
    n_chunks = (
        f"CAST(ceil(greatest(size(ws) - {CHUNK_TOKENS}, 0) / {CHUNK_STRIDE})"
        f" + 1 AS INT)"
    )
    k_chunks = (
        f"CAST(ceil(greatest(size(split(trim(text), '\\\\s+')) - {CHUNK_TOKENS}, 0)"
        f" / {CHUNK_STRIDE}) + 1 AS INT)"
    )
    return f"""
    WITH qt AS (SELECT term FROM VALUES {terms} AS t(term)),
    ws AS (
      SELECT doc_id, ws FROM (
        SELECT doc_id, split(trim(text), '\\\\s+') AS ws FROM {{documents_par}}
      ) WHERE ws IS NOT NULL
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
             array_join(slice(ws, i * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS}), ' ')
               AS chunk_text
      FROM (SELECT doc_id, ws, explode(sequence(0, {n_chunks} - 1)) AS i FROM ws)
    ),
    dl AS (
      SELECT doc_id, chunk_id, dl FROM (
        SELECT doc_id, chunk_id,
               CAST(size(regexp_extract_all(lower(chunk_text), '[a-z0-9]+', 0))
                    AS BIGINT) AS dl
        FROM chunks
      ) WHERE dl > 0
    ),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
    tok AS (
      SELECT /*+ BROADCAST(qt) */ c.doc_id, c.chunk_id, c.term
      FROM (SELECT doc_id, chunk_id,
                   explode(regexp_extract_all(lower(chunk_text), '[a-z0-9]+', 0))
                     AS term
            FROM chunks) c JOIN qt ON c.term = qt.term
    ),
    tf AS (SELECT doc_id, chunk_id, term, count(*) AS tf FROM tok
           GROUP BY doc_id, chunk_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    part AS (
      SELECT /*+ BROADCAST(dfq), BROADCAST(stats) */ tf.doc_id, tf.chunk_id,
             {BM25_PART_SQL} AS part
      FROM tf JOIN dfq ON tf.term = dfq.term
              JOIN dl ON tf.doc_id = dl.doc_id AND tf.chunk_id = dl.chunk_id
              CROSS JOIN stats
    ),
    kw AS (
      SELECT doc_id, chunk_id, CAST(rn AS BIGINT) AS rank_kw FROM (
        SELECT doc_id, chunk_id,
               row_number() OVER (ORDER BY score DESC, doc_id, chunk_id) AS rn
        FROM (SELECT doc_id, chunk_id, round(sum(part), 6) AS score FROM part
              GROUP BY doc_id, chunk_id)
      ) WHERE rn <= {RAG_LEG_K}
    ),
    qn AS (
      SELECT q_vec, {v['qn']} AS _qn FROM (
        SELECT CAST(embedding AS ARRAY<DOUBLE>) AS q_vec
        FROM {{embeddings}} WHERE vec_id = 0
      )
    ),
    bn AS (
      SELECT nn_id, b_vec, {v['bn']} AS _bn FROM (
        SELECT e.vec_id AS nn_id, CAST(e.embedding AS ARRAY<DOUBLE>) AS b_vec
        FROM {{embeddings}} e JOIN {{documents}} d ON e.vec_id = d.doc_id
      )
    ),
    scored AS (
      SELECT /*+ BROADCAST(qn) */ nn_id,
             round(({v['dot_qb']}) / (_qn * _bn), 6) AS sim
      FROM qn CROSS JOIN bn
    ),
    dsim AS (
      SELECT nn_id AS doc_id, sim FROM (
        SELECT nn_id, sim, row_number() OVER (ORDER BY sim DESC, nn_id) AS rn
        FROM scored
      ) WHERE rn <= {RAG_LEG_K}
    ),
    kdocs AS (
      SELECT /*+ BROADCAST(dsim) */ d.doc_id, d.text, dsim.sim
      FROM {{documents}} d JOIN dsim ON d.doc_id = dsim.doc_id
      WHERE d.text IS NOT NULL
    ),
    vec AS (
      SELECT doc_id, chunk_id, CAST(rn AS BIGINT) AS rank_vec FROM (
        SELECT doc_id, chunk_id,
               row_number() OVER (ORDER BY sim DESC, doc_id, chunk_id) AS rn
        FROM (
          SELECT doc_id, CAST(i AS BIGINT) AS chunk_id, sim
          FROM (SELECT doc_id, sim, explode(sequence(0, {k_chunks} - 1)) AS i
                FROM kdocs)
        )
      ) WHERE rn <= {RAG_LEG_K}
    ),
    fused AS (
      SELECT doc_id, chunk_id,
             round(coalesce(1.0D / (60 + rank_kw), 0.0D)
                   + coalesce(1.0D / (60 + rank_vec), 0.0D), 6) AS rrf_score,
             rank_kw, rank_vec
      FROM kw FULL OUTER JOIN vec USING (doc_id, chunk_id)
    )
    SELECT doc_id, chunk_id, rrf_score, rank_kw, rank_vec FROM fused
    ORDER BY rrf_score DESC, doc_id, chunk_id
    LIMIT {RAG_TOP_K}
    """
