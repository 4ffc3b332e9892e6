"""Text-analysis catalog queries + DuckDB oracles (north-star extensions:
language ID, quality scoring, token counting, fingerprinting — over the
documents fixture). SQL mirrors the Column expressions in functions/text.py
constant-for-constant."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import register
from .catalog_dedup import _sql_md5int
from .functions import text as tx
from .functions.retrieval import (
    BM25_B,
    BM25_K1,
    BM25_PART_SQL,
    Bm25IncrementalIndex,
)
from .sources.fixtures import (
    artifact_dir,
    assert_owned,
    load_table,
    memo_by_fingerprint,
)

_QUALITY_PAT = r"\b(" + "|".join(tx.QUALITY_STOPWORDS) + r")\b"


@register(
    "text_token_count",
    r"""
    SELECT doc_id,
           CAST((CASE WHEN coalesce(trim(text), '') = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_word_tokens
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    """Token counting: whitespace split + regex word runs."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        tx.ws_token_count(t).alias("n_ws_tokens"),
        tx.word_token_count(t).alias("n_word_tokens"),
    )


@register(
    "text_quality_score",
    rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_QUALITY_PAT}')) AS BIGINT) AS n_stopwords,
           CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
           ROUND(
             LEAST(1.0, len(regexp_extract_all(lower(text), '{_QUALITY_PAT}'))
                / GREATEST((CASE WHEN coalesce(trim(text), '') = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END), 1)) * 0.4
             + LEAST(1.0, (CASE WHEN coalesce(trim(text), '') = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END) / 50.0) * 0.3
             + (1.0 - len(regexp_extract_all(text, '[.,!?;:]'))
                  / GREATEST(length(text), 1)) * 0.3, 4) AS quality
    FROM documents
    """,
)
def text_quality_score(spark, sf_dir):
    """Quality scoring: stopword ratio, length signal, punctuation."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        tx.stopword_count(t).alias("n_stopwords"),
        tx.punct_count(t).alias("n_punct"),
        tx.quality_score(t).alias("quality"),
    )


def _duck_lang_sql() -> str:
    score = {
        lang: rf"len(regexp_extract_all(lower(text), '\b({'|'.join(ws)})\b'))"
        for lang, ws in tx.LANG_STOPWORDS.items()
    }
    greatest = f"GREATEST({', '.join(score.values())})"
    case = "'und'"
    for lang in reversed(list(tx.LANG_STOPWORDS)):
        case = (
            f"CASE WHEN {score[lang]} > 0 AND {score[lang]} = {greatest} "
            f"THEN '{lang}' ELSE {case} END"
        )
    return f"SELECT doc_id, lang, {case} AS predicted_lang FROM documents"


@register("text_lang_id", _duck_lang_sql())
def text_lang_id(spark, sf_dir):
    """n-gram-heuristic language ID: stopword-hit argmax per language."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", tx.predicted_lang(F.col("text")).alias("predicted_lang")
    )


@register(
    "text_fingerprint",
    r"""
    SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Deterministic whitespace-normalized md5 document fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


@register(
    "pipeline_clean_corpus",
    rf"""
    WITH scored AS (
      SELECT doc_id, text, lang,
             ROUND(
               LEAST(1.0, len(regexp_extract_all(lower(text), '{_QUALITY_PAT}'))
                  / GREATEST((CASE WHEN coalesce(trim(text), '') = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END), 1)) * 0.4
               + LEAST(1.0, (CASE WHEN coalesce(trim(text), '') = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END) / 50.0) * 0.3
               + (1.0 - len(regexp_extract_all(text, '[.,!?;:]'))
                    / GREATEST(length(text), 1)) * 0.3, 4) AS quality,
             md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    kept AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM scored
      WHERE quality >= 0.35 AND lang IN ('en', 'de')
    )
    SELECT doc_id, lang, quality,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
    FROM kept WHERE rn = 1
    """,
)
def pipeline_clean_corpus(spark, sf_dir):
    """Composed training-corpus cleaning pipeline: quality gate ->
    language allowlist -> exact dedup on the normalized fingerprint
    (keep lowest id) -> token accounting. One declarative plan: the
    filters fuse into the scan, the dedup is a single window over the
    fingerprint shuffle — the shape a 100 TB pre-training prep job
    actually runs."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "doc_id", "lang", t.alias("text"),
        tx.quality_score(t).alias("quality"),
        tx.fingerprint(t).alias("fp"),
    )
    kept = scored.filter((F.col("quality") >= 0.35) & F.col("lang").isin("en", "de"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", "lang", "quality",
            tx.word_token_count(F.col("text")).alias("n_tokens"),
        )
    )


@register(
    "split_train_val",
    """
    SELECT doc_id,
           CASE WHEN CAST(list_sum(list_transform(range(8), i ->
                  (strpos('0123456789abcdef',
                          substr(md5('split:' || CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)
                  * power(16, 7-i))) AS BIGINT) % 100 < 90
                THEN 'train' ELSE 'val' END AS split
    FROM documents
    """,
)
def split_train_val(spark, sf_dir):
    """Deterministic 90/10 train/val split by content-independent hash
    of the id (md5-prefix bucket) — reproducible across runs, engines
    and partitionings; never rand(). The standard leakage-safe split for
    training pipelines (hash the ID, not the row position)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint") % 100
    )
    return docs.select(
        "doc_id",
        F.when(bucket < 90, "train").otherwise("val").alias("split"),
    )


@register("sketch_distinct_users")  # no hash oracle: HLL sketches differ per engine
def sketch_distinct_users(spark, sf_dir):
    """Sketch aggregation: approx_count_distinct (HyperLogLog++) per
    event type — the O(1)-memory distinct count a 100 TB pipeline uses
    where exact distinct would shuffle every value. Engine sketches
    differ bit-for-bit so no hash oracle exists, but the local gate
    (tools/full_gate.py TOLERANCE_CHECKS) asserts the REAL bound:
    |estimate - exact| <= 3*rsd*exact per event_type (rsd=0.02 below),
    and tests assert accuracy vs exact too."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


HLL_P = 10                     # 2^10 = 1024 buckets, sigma ~ 1.04/32 ~ 3.3%
HLL_M = 1 << HLL_P
HLL_HASH_BITS = 48             # md5 prefix width (12 hex digits)
HLL_RHO_BITS = HLL_HASH_BITS - HLL_P
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)  # Flajolet et al. 2007, m >= 128


def _hll_rho_case(low: str) -> str:
    """First-one position (1-indexed) in the low HLL_RHO_BITS bits as an
    exact integer CASE chain — identical SQL text for Spark and DuckDB
    (no float log2, whose exact-power-of-two edge would differ)."""
    cases = " ".join(
        f"WHEN {low} >= {1 << (HLL_RHO_BITS - i)} THEN {i}"
        for i in range(1, HLL_RHO_BITS + 1)
    )
    return f"(CASE {cases} ELSE {HLL_RHO_BITS + 1} END)"


def _hll_oracle() -> str:
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) "
        f"* {16 ** (11 - i)}"
        for i in range(12)
    )
    return f"""
    WITH h AS (
      SELECT event_type, md5('hll:' || CAST(user_id AS VARCHAR)) AS h
      FROM events
    ),
    hv AS (SELECT event_type, CAST({digits} AS BIGINT) AS hv FROM h),
    b AS (SELECT event_type, hv // {1 << HLL_RHO_BITS} AS bucket,
                 hv % {1 << HLL_RHO_BITS} AS low
          FROM hv),
    r AS (SELECT event_type, bucket, MAX({_hll_rho_case('low')}) AS m
          FROM b GROUP BY event_type, bucket),
    z AS (SELECT event_type, SUM(power(2.0, -m)) AS z,
                 CAST(COUNT(*) AS BIGINT) AS nb
          FROM r GROUP BY event_type)
    SELECT event_type,
           CASE WHEN CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M} * {HLL_M}
                     / (z + ({HLL_M} - nb)) <= 2.5 * {HLL_M}
                     AND nb < {HLL_M}
                THEN ROUND({HLL_M} * ln(CAST({HLL_M} AS DOUBLE)
                                        / ({HLL_M} - nb)), 4)
                ELSE ROUND(CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M} * {HLL_M}
                           / (z + ({HLL_M} - nb)), 4)
           END AS est_users
    FROM z
    """


@register("sketch_distinct_users_portable", _hll_oracle())
def sketch_distinct_users_portable(spark, sf_dir):
    """The VALUE-CHECKED twin of sketch_distinct_users: a from-scratch
    ENGINE-PORTABLE HyperLogLog (Flajolet et al. 2007) whose every step
    is deterministic and replayable in SQL — md5-prefix 48-bit hash,
    integer bucket/rho split (rho via an exact integer CASE chain, no
    float log2), per-bucket MAX(rho), then the harmonic-mean estimate
    with the small-range (linear-counting) correction.

    Why the value check is SOUND for a float formula: every Z-sum term
    is a dyadic rational 2^-m with m in [1, 39], so the bucket sum is
    EXACTLY representable and associative in doubles — partition order
    and engine cannot change it; the final alpha*m^2/Z and ln()
    corrections are single float ops from identical inputs, washed by
    ROUND(..., 4).

    100 TB shape: identical to the built-in sketch — one shuffle of
    (event_type, bucket, max-rho) partials (map-side combined MAX), the
    estimate itself is per-group O(m) arithmetic.  The built-in
    approx_count_distinct stays as the production form
    (sketch_distinct_users); this operator proves the sketch's math
    end-to-end and is the template for a custom mergeable sketch (the
    per-bucket MAX table IS the sketch: union = MAX-merge)."""
    ev = load_table(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string"))), 1, 12
        ),
        16, 10,
    ).cast("bigint")
    b = ev.select(
        "event_type",
        hv.alias("hv"),
    ).select(
        "event_type",
        F.expr(f"hv div {1 << HLL_RHO_BITS}").alias("bucket"),
        (F.col("hv") % (1 << HLL_RHO_BITS)).alias("low"),
    )
    r = (
        b.withColumn("rho", F.expr(_hll_rho_case("low")))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    z = r.groupBy("event_type").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("z"),
        F.count("*").cast("bigint").alias("nb"),
    )
    raw = (
        F.lit(HLL_ALPHA) * HLL_M * HLL_M
        / (F.col("z") + (F.lit(HLL_M) - F.col("nb")))
    )
    linear = F.round(
        F.lit(float(HLL_M))
        * F.log(F.lit(float(HLL_M)) / (F.lit(HLL_M) - F.col("nb"))),
        4,
    )
    return z.select(
        "event_type",
        F.when((raw <= 2.5 * HLL_M) & (F.col("nb") < HLL_M), linear)
        .otherwise(F.round(raw, 4))
        .alias("est_users"),
    )


# --------------------------------------------------------------------------
# Training-pipeline corpus operations (sampling, vocabulary, batching, tf-idf)
# --------------------------------------------------------------------------

STRATUM_QUOTA = 50
TOP_TERMS = 100
TFIDF_TOP_K = 3


@register(
    "sample_stratified",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rn <= {STRATUM_QUOTA}
    """,
)
def sample_stratified(spark, sf_dir):
    """Exact-quota stratified sampling: N docs per language, picked by
    ranking on a content-independent md5 of the id — deterministic
    across runs/engines/partitionings, unlike rand()-based sampleBy.
    One shuffle on the (low-cardinality) stratum key; when a stratum is
    huge, the shuffle-free variant is the hash-threshold filter
    (split_train_val's shape) at the cost of an approximate quota."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= STRATUM_QUOTA)
        .select("doc_id", "lang")
    )


@register(
    "vocab_top_terms",
    f"""
    SELECT t.term, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
          FROM documents) t
    GROUP BY t.term
    ORDER BY n DESC, t.term
    LIMIT {TOP_TERMS}
    """,
)
def vocab_top_terms(spark, sf_dir):
    """Vocabulary build: explode word tokens, count, global top-k with a
    (count, term) total order so ties at the cut are deterministic.
    Partial aggregation runs map-side before the single shuffle on the
    term, and the final top-k is a TakeOrderedAndProject (per-partition
    heap + driver merge), never a full sort."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(TOP_TERMS)
    )


@register(
    "seq_length_histogram",
    r"""
    WITH toks AS (
      SELECT CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
                WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
                WHEN n_tok <= 256 THEN 256 ELSE 512 END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM toks GROUP BY 1
    """,
)
def seq_length_histogram(spark, sf_dir):
    """Sequence-length histogram for training batch packing: bucket docs
    by power-of-two token-count bins (explicit CASE ladder — portable,
    no float log2 edge cases) and report docs + token mass per bin. The
    input to a length-bucketed batching / sequence-packing stage; one
    map-side partial agg, one tiny shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    ).cast("bigint")
    bucket = (
        F.when(n_tok <= 16, 16).when(n_tok <= 32, 32).when(n_tok <= 64, 64)
        .when(n_tok <= 128, 128).when(n_tok <= 256, 256).otherwise(512)
    )
    return (
        docs.select(bucket.alias("bucket"), n_tok.alias("n_tok"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


@register(
    "tfidf_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, score FROM ranked WHERE rn <= {TFIDF_TOP_K}
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """TF-IDF keyword extraction: top-k terms per document. The document
    frequency table is vocabulary-sized — far smaller than the corpus,
    but NOT bounded (Heaps' law: vocab keeps growing with corpus size;
    noisy web text pushes it past any broadcast limit at 100 TB) — so it
    joins HINT-FREE: Catalyst broadcasts it while it fits (always at
    bench scale) and falls back to a term-keyed shuffle join at scale.
    The only big shuffles are the two term aggregations, both with
    map-side partials. The corpus size joins in as a broadcast
    single-row aggregate (no driver round trip, stays one lazy plan)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.select("doc_id", "term", "score", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "term", "score")
    )


@register(
    "text_repetition_stats",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents
    ),
    wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
    words AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             ROUND(max(c) * 1.0 / sum(c), 6) AS top_word_frac,
             ROUND(count(*) * 1.0 / sum(c), 6) AS distinct_word_ratio
      FROM wc GROUP BY doc_id
    ),
    big AS (
      SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
               generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        FROM documents
      )
    ),
    grams AS (
      SELECT doc_id,
             ROUND(1.0 - count(DISTINCT g) * 1.0 / count(*), 6) AS dup_2gram_frac
      FROM big WHERE g IS NOT NULL GROUP BY doc_id
    )
    SELECT words.doc_id, n_tokens, top_word_frac, distinct_word_ratio,
           COALESCE(dup_2gram_frac, 0.0) AS dup_2gram_frac
    FROM words LEFT JOIN grams ON words.doc_id = grams.doc_id
    """,
)
def text_repetition_stats(spark, sf_dir):
    """Gopher/C4-style repetition quality signals: top-word fraction,
    distinct-word ratio, duplicate-2-gram fraction — the filters a
    pretraining pipeline uses to drop low-entropy documents. Both legs
    are explode -> codegen hash aggregates sharing the doc_id
    partitioning; the bigram leg builds grams as an array expression
    (one O(len) zip_with pass), so no window sort is needed."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    tok = docs.select("doc_id", F.explode(words).alias("w"))
    wc = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    word_stats = wc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_word_frac"),
        F.round(F.count("*") / F.sum("c"), 6).alias("distinct_word_ratio"),
    )
    grams_arr = F.expr(
        "CASE WHEN size(_w) >= 2 THEN "
        "zip_with(slice(_w, 1, size(_w) - 1), slice(_w, 2, size(_w) - 1), "
        "(a, b) -> concat(a, ' ', b)) ELSE array() END"
    )
    grams = (
        docs.select("doc_id", words.alias("_w"))
        .select("doc_id", F.explode(grams_arr).alias("g"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.lit(1.0) - F.count_distinct("g") / F.count("*"), 6
            ).alias("dup_2gram_frac")
        )
    )
    return word_stats.join(grams, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "top_word_frac",
        "distinct_word_ratio",
        F.coalesce("dup_2gram_frac", F.lit(0.0)).alias("dup_2gram_frac"),
    )


PACK_CAPACITY = 2048
PACK_SHARD = 1000  # docs per cumsum shard


@register(
    "pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    c AS (
      -- DuckDB windowed SUM(BIGINT) yields HUGEINT; cast back so the
      -- driver's type-sensitive value hash matches Spark's BIGINT.
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS end_off
      FROM toks WHERE n_tok > 0
    )
    SELECT doc_id, n_tok,
           CAST(end_off - n_tok AS BIGINT) AS start_off,
           CAST((end_off - n_tok) // {PACK_CAPACITY} AS BIGINT) AS first_seq,
           CAST((end_off - 1) // {PACK_CAPACITY} AS BIGINT) AS last_seq
    FROM c
    """,
)
def pack_sequences(spark, sf_dir):
    """GPT-style sequence packing: concatenate the corpus in doc_id
    order and assign each document its token span and the fixed-size
    training sequences it lands in. The global running sum is computed
    scalably as a two-level cumsum — per-shard window (contiguous
    doc_id div PACK_SHARD shards) plus a broadcast of per-shard totals'
    prefix sums — so no single-task global window touches the corpus;
    the only flat window runs over the tiny shard-totals table. The
    oracle states the same semantics as one flat window (the textbook
    mistake at 100 TB: one reducer holds the whole corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    ).cast("bigint")
    toks = docs.select(
        "doc_id", n_tok.alias("n_tok"), F.expr(f"doc_id div {PACK_SHARD}").alias("_shard")
    ).filter(F.col("n_tok") > 0)

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
    packed = local.join(F.broadcast(offsets), "_shard").select(
        "doc_id",
        "n_tok",
        (F.col("_base") + F.col("_local_end") - F.col("n_tok")).alias("start_off"),
        F.expr(f"(_base + _local_end - n_tok) div {PACK_CAPACITY}").alias("first_seq"),
        F.expr(f"(_base + _local_end - 1) div {PACK_CAPACITY}").alias("last_seq"),
    )
    return packed.select("doc_id", "n_tok", "start_off", "first_seq", "last_seq")


N_NEGATIVES = 4


@register(
    "contrastive_negatives",
    f"""
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    raw AS (
      SELECT d.doc_id AS anchor_id, j.j,
             {_sql_md5int("'neg:' || CAST(d.doc_id AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)")}
               % n.n_docs AS neg0,
             n.n_docs
      FROM documents d CROSS JOIN n
      CROSS JOIN (SELECT unnest(range({N_NEGATIVES})) AS j) j
    ),
    pairs AS (
      SELECT anchor_id, CAST(j AS BIGINT) AS j,
             CASE WHEN neg0 = anchor_id THEN (neg0 + 1) % n_docs ELSE neg0 END AS neg_id
      FROM raw
    )
    SELECT p.anchor_id, p.j, p.neg_id, d.lang AS neg_lang
    FROM pairs p JOIN documents d ON d.doc_id = p.neg_id
    """,
)
def contrastive_negatives(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: each
    anchor gets k pseudo-random negatives via a seeded id hash modulo
    the corpus size (self-collisions remap to the next id) — fully
    reproducible across runs/engines/partitionings, never rand(). The
    corpus count rides in as a broadcast single-row aggregate; fetching
    the negatives' payload is one shuffle equi-join on neg_id."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n_docs"))
    raw = (
        docs.select("doc_id")
        .join(F.broadcast(n))
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.explode(F.sequence(F.lit(0), F.lit(N_NEGATIVES - 1))).alias("j"),
            "n_docs",
        )
    )
    h = F.conv(
        F.substring(
            F.md5(F.format_string("neg:%s:%s", F.col("anchor_id"), F.col("j"))), 1, 8
        ),
        16, 10,
    ).cast("bigint") % F.col("n_docs")
    pairs = raw.select(
        "anchor_id",
        F.col("j").cast("bigint").alias("j"),
        F.when(h == F.col("anchor_id"), (h + 1) % F.col("n_docs")).otherwise(h).alias("neg_id"),
    )
    neg = docs.select(F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang"))
    return pairs.join(neg, "neg_id").select("anchor_id", "j", "neg_id", "neg_lang")


BM25_TOP_K = 20
BM25_QUERY_TERMS = ("vector", "spark", "stream")


def _bm25_oracle() -> str:
    # Residual value-check risk (applies to every log-bearing oracle:
    # BM25 here, DSIR and KL in catalog_mixture/catalog_curation): both
    # engines compute ROUND(ln(...), 6), but JVM Math.log and DuckDB's
    # libm ln are each only ~0.5-ulp accurate, not correctly rounded. A
    # score landing within an ulp of a 0.5e-6 rounding boundary could
    # round differently (or flip top-k membership) and flake the gate on
    # an adversarial fixture. Observed rate on the shipped fixtures: zero
    # across all rounds; accepted as a documented residual rather than
    # loosening the comparator, which is driver-owned and exact.
    terms = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    return f"""
    WITH qt(term) AS (VALUES {terms}),
    tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT tf.term, count(*) AS df FROM tf JOIN qt ON tf.term = qt.term
           GROUP BY tf.term),
    scored AS (
      SELECT tf.doc_id,
             ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                    + {BM25_B} * dl.dl / stats.avgdl)) AS part
      FROM tf JOIN df ON tf.term = df.term
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
    )
    SELECT doc_id, score FROM (
      SELECT doc_id, ROUND(sum(part), 6) AS score,
             row_number() OVER (ORDER BY ROUND(sum(part), 6) DESC, doc_id) AS rn
      FROM scored GROUP BY doc_id
    ) WHERE rn <= {BM25_TOP_K}
    """


def _bm25_doc_scores(spark, sf_dir):
    """Shared BM25 score subtree: (doc_id, score) for every document
    matching >=1 query term, score = ROUND(sum of per-term parts, 6).
    Used by bm25_search (top-k) and hybrid_rrf_search (keyword leg)."""
    docs = load_table(spark, sf_dir, "documents")
    qt = spark.createDataFrame(
        [(t,) for t in BM25_QUERY_TERMS], "term string"
    )
    tok = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("term"),
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs"))
    # BM25 only ever scores the QUERY terms: filter the exploded token
    # stream to them BEFORE the (doc, term) aggregation (optimization
    # r15 — the same r7->r8 rewrite pipeline_rag_retrieval already has).
    # The full-vocabulary tf aggregate was this subtree's largest
    # shuffle; scores are bit-identical because non-query terms only
    # ever joined away (df per query term and dl/avgdl — computed from
    # the UNFILTERED stream above — are unchanged).
    tok_q = tok.join(F.broadcast(qt), "term")
    tf = tok_q.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    part = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", F.expr(BM25_PART_SQL).alias("part"))
    )
    return part.groupBy("doc_id").agg(F.round(F.sum("part"), 6).alias("score"))


@register("bm25_search", _bm25_oracle())
def bm25_search(spark, sf_dir):
    """BM25 keyword retrieval (Robertson/Sparck Jones probabilistic
    ranking; the scoring function every Lucene-family index serves) as a
    relational plan: tokenize once, per-doc lengths and per-term tf in
    two hash aggregates, document frequency restricted to the (tiny,
    broadcast) query-term list, then one more per-doc aggregate for the
    final score and a TakeOrderedAndProject top-k.

    Scale shape: the only corpus-sized shuffles are the two term
    aggregations (map-side partials halve them); df / avgdl / n_docs are
    all broadcast single-row or query-sized sides. Nothing quadratic,
    no UDFs — ln/arith all codegen. At 100 TB this is the standard
    "score a keyword query without an index" plan; with an inverted
    index you'd prune tok to postings, which is exactly what the
    tf-join-on-query-terms does here."""
    return (
        _bm25_doc_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOP_K)
        .select("doc_id", "score")
    )


RRF_K = 60  # the standard reciprocal-rank-fusion constant (Cormack 2009)
HYBRID_LEG_K = 50
HYBRID_TOP_K = 20
HYBRID_QUERY_VEC_ID = 0


def _hybrid_oracle() -> str:
    terms = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    return f"""
    WITH qt(term) AS (VALUES {terms}),
    tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT tf.term, count(*) AS df FROM tf JOIN qt ON tf.term = qt.term
           GROUP BY tf.term),
    scored AS (
      SELECT tf.doc_id,
             ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                    + {BM25_B} * dl.dl / stats.avgdl)) AS part
      FROM tf JOIN df ON tf.term = df.term
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
    ),
    kw AS (
      SELECT doc_id, rn AS rank_kw FROM (
        SELECT doc_id, row_number() OVER (
                 ORDER BY ROUND(sum(part), 6) DESC, doc_id) AS rn
        FROM scored GROUP BY doc_id
      ) WHERE rn <= {HYBRID_LEG_K}
    ),
    qvec AS (SELECT embedding FROM embeddings WHERE vec_id = {HYBRID_QUERY_VEC_ID}),
    cand AS (
      SELECT e.vec_id AS doc_id, e.embedding
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    ),
    vec AS (
      SELECT doc_id, rn AS rank_vec FROM (
        SELECT c.doc_id,
               row_number() OVER (
                 ORDER BY ROUND(list_cosine_similarity(
                            c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
                          c.doc_id) AS rn
        FROM cand c CROSS JOIN qvec q
      ) WHERE rn <= {HYBRID_LEG_K}
    ),
    fused AS (
      SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
             kw.rank_kw, vec.rank_vec,
             ROUND(COALESCE(1.0 / ({RRF_K} + kw.rank_kw), 0.0)
                   + COALESCE(1.0 / ({RRF_K} + vec.rank_vec), 0.0), 6) AS rrf_score
      FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id
    )
    SELECT doc_id, rrf_score, rank_kw, rank_vec FROM (
      SELECT fused.*, row_number() OVER (
               ORDER BY rrf_score DESC, doc_id) AS rn
      FROM fused
    ) WHERE rn <= {HYBRID_TOP_K}
    """


@register("hybrid_rrf_search", _hybrid_oracle())
def hybrid_rrf_search(spark, sf_dir):
    """Hybrid retrieval: BM25 keyword leg + embedding-cosine vector leg,
    fused by reciprocal rank fusion (Cormack et al. 2009) — the standard
    first-stage ranker of RAG / search stacks that run a sparse and a
    dense index side by side.

    Each leg is an independently distributed top-``HYBRID_LEG_K``: the
    keyword leg reuses bm25_search's two corpus hash aggregations and a
    TakeOrderedAndProject cut; the vector leg broadcasts the single
    query vector over a linear codegen scan of the doc-aligned
    embeddings (brute_force_topk; at 100 TB swap in the IVF/LSH probe —
    same (doc_id, rank) contract). Fusion then runs entirely on two
    leg-K-sized tables: the rank windows and the full-outer join touch
    at most 2*K rows, so the global (unpartitioned) windows here are
    K-bounded, never corpus-bounded. rrf = sum of 1/(60+rank) over the
    legs a doc appears in; ranks use the rounded-score + id tie-break
    so the cut is engine-portable, and both engines evaluate the same
    IEEE expression tree for the fused score.

    Built as ONE generated Spark-SQL text (optimization r15, verdict r14
    ask #4): the DataFrame form of this plan cost ~1,650 py4j round
    trips (~0.5 s of socket time) of pure plan construction per call; a
    single ``spark.sql`` with DataFrame kwargs is a handful.  Every
    expression below is the same tree the Column API built — the unrolled
    64-term dot, the dim guard, the rounded-score tie-breaks, the
    broadcast hints — and the result is value-pinned by the DuckDB
    oracle (rows + schema + hash)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return spark.sql(
        _hybrid_sql(), documents=docs, embeddings=emb
    )


def _vec_sql_parts(dim: int = 64) -> dict:
    """Shared SQL fragments for the brute-force cosine leg: unrolled
    dot-product texts and the dim guard (same trees as
    functions/similarity.py unrolled_dot / _with_norm)."""
    def dot(a: str, b: str) -> str:
        return " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dim))

    def guard(field: str) -> str:
        return (
            f"CASE WHEN size({field}) < {dim} THEN CAST(raise_error("
            f"format_string('{field}: expected dim >= {dim}, got %s', "
            f"CAST(size({field}) AS STRING))) AS DOUBLE) "
            f"ELSE sqrt({dot(field, field)}) END"
        )

    return {"dot_qb": dot("q_vec", "b_vec"), "qn": guard("q_vec"), "bn": guard("b_vec")}


def _hybrid_sql() -> str:
    terms = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    v = _vec_sql_parts()
    return f"""
    WITH qt AS (SELECT term FROM VALUES {terms} AS t(term)),
    tok AS (
      SELECT doc_id,
             explode(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS term
      FROM {{documents}}
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
    tok_q AS (SELECT /*+ BROADCAST(qt) */ tok.doc_id, tok.term
              FROM tok JOIN qt ON tok.term = qt.term),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok_q
           GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    part AS (
      SELECT /*+ BROADCAST(dfq), BROADCAST(stats) */ tf.doc_id,
             {BM25_PART_SQL} AS part
      FROM tf JOIN dfq ON tf.term = dfq.term
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
    ),
    scores AS (SELECT doc_id, round(sum(part), 6) AS score FROM part
               GROUP BY doc_id),
    kw AS (
      SELECT doc_id, CAST(rn AS BIGINT) AS rank_kw FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM scores
      ) WHERE rn <= {HYBRID_LEG_K}
    ),
    qn AS (
      SELECT q_vec, {v['qn']} AS _qn FROM (
        SELECT CAST(embedding AS ARRAY<DOUBLE>) AS q_vec
        FROM {{embeddings}} WHERE vec_id = {HYBRID_QUERY_VEC_ID}
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
    vec AS (
      SELECT nn_id AS doc_id, CAST(rn AS BIGINT) AS rank_vec FROM (
        SELECT nn_id, row_number() OVER (ORDER BY sim DESC, nn_id) AS rn
        FROM scored
      ) WHERE rn <= {HYBRID_LEG_K}
    ),
    fused AS (
      SELECT doc_id,
             round(coalesce(1.0D / ({RRF_K} + rank_kw), 0.0D)
                   + coalesce(1.0D / ({RRF_K} + rank_vec), 0.0D), 6) AS rrf_score,
             rank_kw, rank_vec
      FROM kw FULL OUTER JOIN vec USING (doc_id)
    )
    SELECT doc_id, rrf_score, rank_kw, rank_vec FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT {HYBRID_TOP_K}
    """


SPLIT_VAL_PCT = 10  # val share, percent


@register(
    "leakage_safe_split",
    rf"""
    WITH fp AS (
      SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      FROM documents
    )
    SELECT doc_id, fp,
           CASE WHEN {_sql_md5int("'split:' || fp")} % 100 < {SPLIT_VAL_PCT}
                THEN 'val' ELSE 'train' END AS split
    FROM fp
    """,
)
def leakage_safe_split(spark, sf_dir):
    """Contamination-safe train/val split: the split key is the
    whitespace-normalized CONTENT fingerprint, not the document id, so
    exact duplicates always land on the same side — the standard guard
    against a val set leaking into training through duplicated
    documents (plain id-hash splits, like split_train_val here, put two
    copies of one text on opposite sides). Near-dup-safe variants key
    on the dedup cluster root (dedup_survivors) instead; same shape.

    Scale shape: pure per-row projection riding the scan — fingerprint
    + seeded hash are codegen expressions; zero shuffles, zero UDFs.
    The split is engine-exact and reproducible (seeded md5, no
    rand())."""
    from .catalog_mixture import _md5int

    docs = load_table(spark, sf_dir, "documents")
    fp = tx.fingerprint(F.col("text")).alias("fp")
    d = docs.select("doc_id", fp)
    return d.select(
        "doc_id", "fp",
        F.when(
            _md5int(F.concat(F.lit("split:"), F.col("fp"))) % 100 < SPLIT_VAL_PCT,
            "val",
        ).otherwise("train").alias("split"),
    )


@register("bm25_indexed_search", _bm25_oracle())
def bm25_indexed_search(spark, sf_dir):
    """BM25 served from the persisted inverted index
    (functions/retrieval.Bm25IncrementalIndex; same oracle as
    bm25_search — identical results, different physical plan): the
    postings scan carries PartitionFilters on the query terms' hash
    buckets, so query-time work is O(postings of matched buckets), not
    O(corpus), and no text is tokenized.  On first use per dataset the
    corpus is indexed as generation 0; every later query skips straight
    to the probe, and a living corpus would keep the same index current
    with ``apply_changes`` instead of rebuilding it."""
    import os

    path = artifact_dir("bm25inc", sf_dir, "documents")
    idx = Bm25IncrementalIndex(spark, path)
    # trust point: stats.json is what makes us serve the postings, so a
    # directory planted after artifact_dir ran is refused here too
    assert_owned(path)
    if not os.path.exists(os.path.join(path, "stats.json")):
        idx.build(load_table(spark, sf_dir, "documents"))
    return idx.probe(BM25_QUERY_TERMS, BM25_TOP_K)


_BPE_MERGES_CACHE: dict[str, tuple] = {}
BPE_TRAIN_DOCS = 200
BPE_N_MERGES = 256


def _bpe_merges_for(spark, sf_dir):
    """Train-once-per-dataset BPE merge table (build once, serve many,
    like the IVF centroids): deterministic bounded sample — the first
    BPE_TRAIN_DOCS docs by doc_id — trained driver-side. Memoized per
    sf_dir under the table fingerprint like every fixture-derived
    artifact: a regenerated documents.parquet under the same path
    trains fresh merges and replaces the old corpus's table."""
    from .functions.bpe import train_bpe

    def train():
        sample = [
            r["text"] or ""
            for r in load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < BPE_TRAIN_DOCS)
            .select("text")
            .orderBy("doc_id")
            .collect()
        ]
        return train_bpe(sample, n_merges=BPE_N_MERGES)

    return memo_by_fingerprint(_BPE_MERGES_CACHE, sf_dir, "documents", train)


@register(
    "bpe_tokenize_roundtrip",
    """
    SELECT doc_id, TRUE AS roundtrip_ok, TRUE AS compressed
    FROM documents
    """,
)
def bpe_tokenize_roundtrip(spark, sf_dir):
    """REAL byte-level BPE tokenizer (functions/bpe.py — Sennrich-style
    merges over a GPT-2-style byte alphabet): train 256 merges once on
    a deterministic 200-doc sample, then encode EVERY document with the
    broadcast merge table and verify the lossless-round-trip property
    per doc (decode(encode(text)) == text, exact — the byte-level
    alphabet guarantees it when the encoder is correct) plus the
    compression invariant (merges never lengthen: n_tokens <= n_bytes).
    The oracle pins both flags TRUE for every doc — a merge-replay or
    byte-handling bug flips a flag and fails the value check. Token
    counts themselves are not SQL-expressible; they are covered by
    tests/test_bpe.py. 100 TB shape: one-time bounded-sample train,
    then Arrow-batched mapInPandas encode — pure map, no shuffle."""
    from .functions.bpe import tokenize_corpus

    merges = _bpe_merges_for(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = tokenize_corpus(
        docs, "text", merges,
        "doc_id long, n_tokens long, n_bytes long, roundtrip_ok boolean",
    )
    return out.select(
        "doc_id",
        "roundtrip_ok",
        (F.col("n_tokens") <= F.col("n_bytes")).alias("compressed"),
    )


@register(
    "heavy_hitters_bigrams",
    r"""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS term
      FROM toks WHERE len(t) >= 2
    ),
    tot AS (SELECT count(*) AS n FROM bg)
    SELECT term, CAST(count(*) AS BIGINT) AS n
    FROM bg CROSS JOIN tot
    GROUP BY term, tot.n
    HAVING count(*) >= (tot.n + 999) // 1000
    """,
)
def heavy_hitters_bigrams(spark, sf_dir):
    """EXACT heavy hitters (bigrams with support >= 0.1%) via the
    two-pass Misra-Gries plan (functions/sketches.py): per-partition
    k-counter summaries produce a guaranteed candidate superset, then
    one broadcast-semi-join pass counts ONLY candidates exactly — the
    full distinct-bigram shuffle (the thing that doesn't scale to 100 TB
    of n-grams) never runs, yet the result equals the plain GROUP BY /
    HAVING oracle bit-for-bit.  Threshold in exact integer arithmetic
    ((n + 999) div 1000) so both engines agree at every n.  Passing
    phi=0.001 sizes the sketch n-free (k = 2/phi) so the total count
    rides pass 1 — two corpus scans, not three (the old dedicated count
    pass re-ran the whole tokenize+explode lineage once more)."""
    from .functions.sketches import heavy_hitters_exact

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0).alias("t")
    ).filter(F.size("t") >= 2)
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("term")
    )
    return heavy_hitters_exact(
        bigrams, "term", lambda n: (n + 999) // 1000, phi=0.001
    )


@register(
    "lm_perplexity_scores",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    uni AS (
      SELECT unnest(t) AS w FROM toks
    ),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    vocab AS (SELECT count(*) AS v FROM uc),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1
      FROM toks WHERE len(t) >= 2
    ),
    bc AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram),
    terms AS (
      SELECT bg.doc_id,
             ln((bc.c + 1.0) / (uc.c + vocab.v)) AS lp
      FROM bg
      JOIN bc ON bg.bigram = bc.bigram
      JOIN uc ON bg.w1 = uc.w
      CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(ROUND(avg(lp), 6) AS DOUBLE) AS avg_logprob,
           CAST(ROUND(exp(-avg(lp)), 4) AS DOUBLE) AS perplexity
    FROM terms GROUP BY doc_id
    """,
)
def lm_perplexity_scores(spark, sf_dir):
    """Language-model quality scoring — the CCNet / Gopher / RefinedWeb
    curation step (there a KenLM 5-gram; here an add-one-smoothed bigram
    model trained ON the corpus itself, which keeps the whole operator
    inside the engine and exactly reproducible): per document, the mean
    log-probability ln((c(w1 w2) + 1) / (c(w1) + V)) over its bigrams,
    plus the equivalent perplexity.  Low-probability documents (gibberish,
    boilerplate soup, wrong-language fragments) score far below fluent
    text and are the standard filter cut.

    Scale shape: the model IS two aggregate tables (unigram + bigram
    counts).  At fixture scale Catalyst broadcasts both into the scoring
    join; at 100 TB the bigram table outgrows broadcast and the join
    becomes a hash shuffle on the bigram key — same plan text, no code
    change — or the model is pruned to top-k bigrams (stupid-backoff
    style) to stay broadcastable.  Counts are exact BIGINT; only the
    final ln/exp are floats (ROUND 6/4, inside the comparator's 1-ulp
    band)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0).alias("t"),
    )
    uni = toks.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("cw"))
    # vocab size as a 1-row broadcast aggregate, NOT a driver count()
    # (optimization r14, same rewrite as bigram_pmi's r13 n2 fix): the
    # count() ran the whole tokenize+explode+groupBy lineage as its own
    # job before the real plan ran it again — one extra driver round
    # trip + job.  NOTE (verdict r14): the physical plan does NOT reuse
    # the uc exchange — the vocab branch recomputes the aggregation
    # in-plan; the win is the removed job/driver sync only.
    vc = uc.agg(F.count("*").cast("double").alias("v"))
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(concat(element_at(t, i), ' ', element_at(t, i + 1))"
                    " AS bigram, element_at(t, i) AS w1))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.bigram", "p.w1")
    )
    bc = bg.groupBy("bigram").agg(F.count("*").alias("cb"))
    terms = (
        bg.join(bc, "bigram")
        .join(uc, bg["w1"] == uc["w"])
        # explicit 1-row cartesian (ADVICE r14): .join() with no condition
        # read as a mistake and leaned on crossJoin.enabled defaults
        .crossJoin(F.broadcast(vc))
        .select(
            "doc_id",
            F.log((F.col("cb") + F.lit(1.0)) / (F.col("cw") + F.col("v"))).alias("lp"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.round(F.exp(-F.avg("lp")), 4).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): the mergeable
# frequency sketch behind streaming heavy-hitter and join-size
# estimation.  Deterministic md5-derived row hashes make the whole
# sketch ENGINE-EXACT: build, probe estimates, and the
# never-underestimates guarantee are all value-checked against the
# relational oracle (most sketch implementations can only be
# tolerance-tested; seeded hashing + exact counts avoids that).
# --------------------------------------------------------------------------

CM_DEPTH = 4    # hash rows
CM_WIDTH = 64   # buckets per row
# probe mix: the BM25 query terms, two common words, one absent term
CM_PROBE_TERMS = ("vector", "spark", "stream", "the", "data", "zzzabsent")


def _cm_bucket_spark(row: int, term_col):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cm:{row}:"), term_col)), 1, 8
            ),
            16, 10,
        ).cast("bigint") % CM_WIDTH
    )


def _cm_oracle() -> str:
    rows_vals = ", ".join(f"({r})" for r in range(CM_DEPTH))
    probe_vals = ", ".join(f"('{t}')" for t in CM_PROBE_TERMS)
    bucket = _sql_md5int("'cm:' || r || ':' || term") + f" % {CM_WIDTH}"
    return f"""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    rows_(r) AS (VALUES {rows_vals}),
    sketch AS (
      SELECT r, {bucket} AS bucket, COUNT(*) AS cnt
      FROM tok, rows_ GROUP BY 1, 2
    ),
    probes(term) AS (VALUES {probe_vals}),
    pb AS (SELECT term, r, {bucket} AS bucket FROM probes, rows_),
    est AS (
      SELECT pb.term, CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est_count
      FROM pb LEFT JOIN sketch sk ON pb.r = sk.r AND pb.bucket = sk.bucket
      GROUP BY pb.term
    ),
    truth AS (
      SELECT term, COUNT(*) AS true_count FROM tok
      WHERE term IN (SELECT term FROM probes) GROUP BY term
    )
    SELECT e.term, e.est_count,
           CAST(COALESCE(t.true_count, 0) AS BIGINT) AS true_count,
           e.est_count >= COALESCE(t.true_count, 0) AS never_underestimates
    FROM est e LEFT JOIN truth t ON e.term = t.term
    """


@register("countmin_frequency", _cm_oracle())
def countmin_frequency(spark, sf_dir):
    """Count-Min frequency estimation over the corpus token stream:
    build a {CM_DEPTH}x{CM_WIDTH} sketch in ONE aggregation, then probe
    a fixed term set and report estimate vs true count plus the CM
    guarantee bit (estimate can only overestimate).

    Scale shape: the build is the sketch's whole point at 100 TB — the
    corpus shuffles ONCE as (row, bucket) keys whose domain is
    DEPTH*WIDTH = {CM_DEPTH * CM_WIDTH}, so map-side partial
    aggregation collapses every task's contribution to <= {CM_DEPTH * CM_WIDTH}
    rows before the exchange and the reduce side is sketch-sized, not
    corpus-sized (same mergeability that lets per-shard sketches union
    by cell-wise +). Probes join the tiny sketch; the truth side here
    exists only to value-check the guarantee and restricts its
    aggregation to the probe terms."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("term")
    )
    # 4 bucket columns -> stack to (r, bucket) -> one hash aggregate
    buckets = tok.select(
        "term",
        *[_cm_bucket_spark(r, F.col("term")).alias(f"b{r}") for r in range(CM_DEPTH)],
    )
    stack_args = ", ".join(f"{r}L, b{r}" for r in range(CM_DEPTH))
    cells = buckets.select(
        F.expr(f"stack({CM_DEPTH}, {stack_args}) AS (r, bucket)")
    )
    sketch = cells.groupBy("r", "bucket").agg(F.count("*").alias("cnt"))

    probes = spark.createDataFrame([(t,) for t in CM_PROBE_TERMS], "term string")
    rows_df = spark.range(CM_DEPTH).select(F.col("id").alias("r"))
    pb = probes.crossJoin(rows_df).select(
        "term", "r", _cm_bucket_spark_col(F.col("r"), F.col("term")).alias("bucket")
    )
    est = (
        pb.join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est_count"))
    )
    truth = (
        tok.join(F.broadcast(probes), "term")
        .groupBy("term")
        .agg(F.count("*").alias("true_count"))
    )
    return est.join(F.broadcast(truth), "term", "left").select(
        "term",
        "est_count",
        F.coalesce(F.col("true_count"), F.lit(0)).cast("bigint").alias("true_count"),
        (F.col("est_count") >= F.coalesce(F.col("true_count"), F.lit(0))).alias(
            "never_underestimates"
        ),
    )


def _cm_bucket_spark_col(row_col, term_col):
    """Bucket hash with a COLUMN row id (probe side: r is data, not a
    literal)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("cm:"), row_col.cast("string"), F.lit(":"), term_col
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("bigint") % CM_WIDTH
    )


@register(
    "source_token_entropy",
    r"""
    WITH w AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
      FROM documents
    ),
    c AS (SELECT source, word, count(*) AS c FROM w GROUP BY source, word),
    s AS (
      SELECT source, sum(c) AS n, sum(c * ln(c)) AS sclnc,
             count(*) AS vocab
      FROM c GROUP BY source
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           ROUND(ln(n) - sclnc / n, 6) AS entropy_nats
    FROM s
    """,
)
def source_token_entropy(spark, sf_dir):
    """Per-source unigram Shannon entropy — the corpus-diversity number
    next to dedup rate on a curation dashboard (a source whose entropy
    collapses has gone templated/spammy even if no two documents are
    exact duplicates). Computed as ln(N) - (sum c*ln(c))/N from the
    per-(source, word) counts, so only exact integer counts cross the
    shuffle; the float log work happens on the vocab-sized count table.
    Shares tokenization with the text family (lowercase whitespace
    split), and the KL/DSIR queries' log-rounding discipline (ROUND to
    6; the local comparator carries the 1-ulp tolerance band for
    log-bearing values).

    100 TB shape: one (source, word) hash aggregate — map-side
    combinable — then a source-sized reduction; no windows, no
    collect."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("word"),
    )
    counts = words.groupBy("source", "word").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("vocab"),
            F.sum(F.col("c") * F.log(F.col("c"))).alias("sclnc"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            F.round(
                F.log(F.col("n_tokens")) - F.col("sclnc") / F.col("n_tokens"), 6
            ).alias("entropy_nats"),
        )
    )


@register(
    "bigram_pmi_topk",
    r"""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
    ),
    uni AS (
      SELECT unnest(t) AS w FROM toks
    ),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    n1 AS (SELECT sum(c) AS n FROM uc),
    bg AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS x,
             unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS y
      FROM toks WHERE len(t) >= 2
    ),
    bc AS (SELECT x, y, count(*) AS c FROM bg GROUP BY x, y),
    n2 AS (SELECT sum(c) AS n FROM bc),
    scored AS (
      SELECT bc.x, bc.y, bc.c,
             (CAST(bc.c AS DOUBLE) * n1.n * n1.n)
               / (CAST(ux.c AS DOUBLE) * uy.c * n2.n) AS score
      FROM bc
      JOIN uc ux ON ux.w = bc.x
      JOIN uc uy ON uy.w = bc.y
      CROSS JOIN n1 CROSS JOIN n2
      WHERE bc.c >= 5
    )
    SELECT x, y, CAST(c AS BIGINT) AS n_pair, ROUND(ln(score), 6) AS pmi
    FROM scored
    ORDER BY score DESC, x, y
    LIMIT 20
    """,
)
def bigram_pmi_topk(spark, sf_dir):
    """Collocation extraction: top-20 bigrams by pointwise mutual
    information over EXACT corpus counts — PMI(x,y) =
    ln(P(x,y) / (P(x)P(y))) — the classic phrase-mining signal for
    tokenizer-vocabulary and stopword decisions. Ordering is done on
    the exact-rational likelihood ratio computed as one IEEE division
    of integer-derived doubles (bit-identical across engines), so the
    top-20 cut never depends on log rounding; ln() appears only in the
    displayed, 6-rounded PMI column (the log-family discipline shared
    with BM25/KL/entropy).

    100 TB shape: one bigram hash aggregate (map-side combinable) and
    one unigram aggregate; the unigram table joins HINT-FREE (review
    r13 — it is vocab-sized, which Heaps' law keeps growing past any
    broadcast limit; the same rule tfidf_top_terms documents — AQE
    broadcasts it while it fits, shuffle-joins beyond), totals are
    1-row broadcast aggregates (no driver collect), and the final cut
    is TakeOrderedAndProject — never a global sort of all bigrams."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0).alias("t")
    )
    uni = toks.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("c"))
    bg = toks.filter(F.size("t") >= 2).select(
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> struct(t[i] AS x, t[i + 1] AS y))")
        ).alias("p")
    ).select("p.x", "p.y")
    bc = bg.groupBy("x", "y").agg(F.count("*").alias("c")).filter(F.col("c") >= 5)
    n1 = uc.agg(F.sum("c").alias("n1"))
    n2 = bg.agg(F.count("*").alias("n2"))  # 1-row broadcast, no collect
    scored = (
        bc.join(uc.withColumnRenamed("w", "x").withColumnRenamed("c", "cx"), "x")
        .join(uc.withColumnRenamed("w", "y").withColumnRenamed("c", "cy"), "y")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .withColumn(
            "score",
            (F.col("c").cast("double") * F.col("n1") * F.col("n1"))
            / (F.col("cx").cast("double") * F.col("cy") * F.col("n2")),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), "x", "y")
        .limit(20)
        .select(
            "x", "y",
            F.col("c").cast("bigint").alias("n_pair"),
            F.round(F.log("score"), 6).alias("pmi"),
        )
    )
