"""Dedup catalog queries + generated DuckDB oracles.

The oracle SQL is *generated* from the same constants the Spark plans use
(functions/dedup.py: md5-prefix base hash, MinHash coefficients, band
layout), so both engines compute identical signatures and identical
candidate sets — the whole MinHash/LSH pipeline is exactly checkable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .catalog import register
from .functions import dedup as dd
from .sources.fixtures import load_table

JACCARD_THRESHOLD = 0.2     # exact n-gram near-dup cut (planted pairs ~0.9)
MINHASH_VERIFY_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 4
CONTAINMENT_THRESHOLD = 0.75  # directional excerpt-inclusion cut


# --- SQL fragment generators (mirror functions/dedup.py exactly) ----------

def _sql_md5int(x: str) -> str:
    return (
        "CAST(list_sum(list_transform(range(8), i -> "
        f"(strpos('0123456789abcdef', substr(md5({x}), i+1, 1)) - 1) "
        "* power(16, 7-i))) AS BIGINT)"
    )


_SQL_WORDS = r"regexp_split_to_array(trim(lower(text)), '\s+')"

def _sql_shingles(w: str = "w", n: int = dd.SHINGLE_N) -> str:
    gram = " || ' ' || ".join(f"{w}[i+{k+1}]" for k in range(n))
    return (
        f"CASE WHEN len({w}) >= {n} THEN "
        f"list_distinct(list_transform(range(len({w}) - {n - 1}), i -> {gram})) "
        "ELSE [] END"
    )


def _sql_minhash_sig(hashes: str = "hs") -> str:
    parts = [
        f"list_min(list_transform({hashes}, h -> ({a} * h + {b}) % {dd.MERSENNE_P}))"
        for a, b in zip(dd.MINHASH_A, dd.MINHASH_B)
    ]
    return "[" + ", ".join(parts) + "]"


def _sql_band_rows(sig: str = "sig") -> str:
    """UNION ALL block exploding the signature into (band, band_sig)."""
    selects = []
    for b in range(dd.LSH_BANDS):
        cols = " || '-' || ".join(
            f"CAST({sig}[{b * dd.LSH_ROWS + r + 1}] AS VARCHAR)"
            for r in range(dd.LSH_ROWS)
        )
        selects.append(f"SELECT doc_id, {b} AS band, {cols} AS band_sig FROM sigs")
    return " UNION ALL ".join(selects)


# --- queries --------------------------------------------------------------

def _sql_minhash_cands_cte() -> str:
    """Shared oracle CTE chain sh -> hashed -> sigs -> bands -> cands:
    shingling, the 16-hash MinHash signature, LSH banding, and the
    bucket-join candidate pairs.  ONE copy, interpolated into the three
    MinHash oracles (dedup_minhash_lsh, cross_source_dup_matrix,
    dedup_survivors) so the signature/band layout can never drift
    between them or away from functions/dedup.py's constants."""
    return rf"""sh AS (
      SELECT doc_id, {_sql_shingles('w')} AS shingles
      FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents)
    ),
    hashed AS (
      SELECT doc_id, shingles,
             list_transform(shingles, s -> {_sql_md5int('s')}) AS hs
      FROM sh WHERE len(shingles) > 0
    ),
    sigs AS (SELECT doc_id, shingles, {_sql_minhash_sig('hs')} AS sig FROM hashed),
    bands AS ({_sql_band_rows()}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )"""


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content, keep the lowest id. At scale
    this is one shuffle on the (high-cardinality, well-distributed) text
    hash — the canonical exact-dedup plan."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


@register(
    "dedup_ngram_jaccard",
    rf"""
    WITH sh AS (
      SELECT doc_id, {_sql_shingles('w')} AS shingles
      FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.shingles, b.shingles)) AS c,
             len(a.shingles) AS na, len(b.shingles) AS nb
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id AND len(a.shingles) > 0 AND len(b.shingles) > 0
    )
    SELECT id_a, id_b, ROUND(c * 1.0 / GREATEST(na + nb - c, 1), 6) AS jaccard
    FROM pairs
    WHERE c * 1.0 / GREATEST(na + nb - c, 1) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard via inverted-index blocking: explode
    shingles, equi-join on the shingle, count shared shingles per pair —
    identical output to all-pairs at any threshold > 0, but the pair
    space only contains docs that actually co-occur under a shingle
    (the DuckDB oracle keeps the quadratic formulation as the
    independent ground truth)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dd.with_shingles(docs.select("doc_id", "text")).filter(F.size("shingles") > 0)
    return dd.jaccard_pairs_blocked(sh, JACCARD_THRESHOLD)


@register(
    "dedup_containment",
    rf"""
    WITH sh AS (
      SELECT doc_id, {_sql_shingles('w')} AS shingles
      FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.shingles, b.shingles)) AS c,
             len(a.shingles) AS na, len(b.shingles) AS nb
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id AND len(a.shingles) > 0 AND len(b.shingles) > 0
    )
    SELECT CASE WHEN na <= nb THEN id_a ELSE id_b END AS contained_id,
           CASE WHEN na <= nb THEN id_b ELSE id_a END AS container_id,
           ROUND(c * 1.0 / LEAST(na, nb), 6) AS containment
    FROM pairs
    WHERE c * 1.0 / LEAST(na, nb) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark, sf_dir):
    """Directional excerpt detection: shingle containment
    C(A,B) = |A∩B| / min(|A|,|B|) ≥ 0.75 via the same inverted-index
    blocking as dedup_ngram_jaccard (functions/dedup.py::
    containment_pairs_blocked). Catches a short passage reproduced
    verbatim inside a much larger page — J ≈ |quote|/|page| ≈ 0 there,
    so the symmetric near-dup family can never see it. Output is
    directed (contained_id = the smaller shingle set), exactly equal to
    the quadratic all-pairs formulation the oracle runs.

    100 TB shape: identical to the Jaccard path — one shuffle on the
    shingle key, pair space bounded by co-occurrence, no crossJoin."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dd.with_shingles(docs.select("doc_id", "text")).filter(F.size("shingles") > 0)
    return dd.containment_pairs_blocked(sh, CONTAINMENT_THRESHOLD)


@register(
    "cross_source_dup_matrix",
    rf"""
    WITH {_sql_minhash_cands_cte()},
    verified AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS i,
             len(sa.shingles) AS na, len(sb.shingles) AS nb
      FROM cands c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
    ),
    dup_pairs AS (
      SELECT id_a, id_b FROM verified
      WHERE i * 1.0 / GREATEST(na + nb - i, 1) >= {MINHASH_VERIFY_THRESHOLD}
    )
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM dup_pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    GROUP BY 1, 2
    """,
)
def cross_source_dup_matrix(spark, sf_dir):
    """Cross-source contamination matrix: the per-source-PAIR count of
    verified MinHash near-dups — the governance view that tells a
    curation pipeline WHICH feeds copy from each other (dedup_rate_by_
    source only says how much each source self-duplicates). Unordered
    source pair via least/greatest so each pair reports once.

    100 TB shape: rides the banded LSH pipeline unchanged (no new pair
    space); the two doc_id equi-joins attach sources to the pair set,
    which is near-dup-sized, not corpus-sized; final agg is |sources|²
    rows at most."""
    docs = load_table(spark, sf_dir, "documents")
    sh, sigs = dd.minhash_signatures(docs)
    cands = dd.lsh_candidate_pairs(sigs)
    ver = dd.jaccard_verify(cands, sh).filter(
        F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD
    )
    src = docs.select("doc_id", "source")
    m = ver.join(
        src.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "src_a"),
        "id_a",
    ).join(
        src.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "src_b"),
        "id_b",
    )
    return m.groupBy(
        F.least("src_a", "src_b").alias("source_a"),
        F.greatest("src_a", "src_b").alias("source_b"),
    ).agg(F.count("*").cast("bigint").alias("n_dup_pairs"))


@register(
    "dedup_minhash_lsh",
    rf"""
    WITH {_sql_minhash_cands_cte()},
    verified AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS i,
             len(sa.shingles) AS na, len(sb.shingles) AS nb
      FROM cands c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, ROUND(i * 1.0 / GREATEST(na + nb - i, 1), 6) AS jaccard
    FROM verified
    WHERE i * 1.0 / GREATEST(na + nb - i, 1) >= {MINHASH_VERIFY_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: shingle -> 16 minhashes -> 4 bands -> bucket
    equi-join -> exact-Jaccard verify on candidates only. The scale path:
    no quadratic pair space, one shuffle on the band bucket key."""
    docs = load_table(spark, sf_dir, "documents")
    sh, sigs = dd.minhash_signatures(docs)
    cands = dd.lsh_candidate_pairs(sigs)
    verified = dd.jaccard_verify(cands, sh)
    return verified.filter(F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD).select(
        "id_a", "id_b", "jaccard"
    )


@register(
    "dedup_survivors",
    rf"""
    WITH RECURSIVE {_sql_minhash_cands_cte()},
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT c.id_a, c.id_b,
               len(list_intersect(sa.shingles, sb.shingles)) AS i,
               len(sa.shingles) AS na, len(sb.shingles) AS nb
        FROM cands c
        JOIN sigs sa ON sa.doc_id = c.id_a
        JOIN sigs sb ON sb.doc_id = c.id_b
      ) WHERE i * 1.0 / GREATEST(na + nb - i, 1) >= {MINHASH_VERIFY_THRESHOLD}
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    -- transitive closure by recursive CTE: reach(id, r) = r reachable
    -- from id; UNION dedups so the recursion reaches a fixpoint. Near-dup
    -- clusters are tiny, so the closure stays small.
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    doomed AS (SELECT id FROM comp WHERE id != component)
    SELECT d.doc_id FROM documents d
    LEFT JOIN doomed ON doomed.id = d.doc_id
    WHERE doomed.id IS NULL
    ORDER BY d.doc_id
    """,
)
def dedup_survivors(spark, sf_dir):
    """End-to-end dedup: MinHash-LSH candidate pairs -> exact-Jaccard
    verify -> connected components -> keep min-id per cluster. The
    unit test cross-checks components against a driver-side union-find,
    and the DuckDB oracle recomputes the full pipeline with a
    recursive-CTE transitive closure standing in for the CC fixpoint —
    the whole dedup path is value-checked end to end."""
    docs = load_table(spark, sf_dir, "documents")
    sh, sigs = dd.minhash_signatures(docs)
    cands = dd.lsh_candidate_pairs(sigs)
    verified = dd.jaccard_verify(cands, sh).filter(
        F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD
    )
    return dd.dedup_survivors(docs, verified).orderBy("doc_id")


def _sql_simhash() -> str:
    terms = []
    for j in range(32):
        terms.append(
            f"CASE WHEN list_sum(list_transform(hs, h -> "
            f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        )
    return " + ".join(terms)


@register(
    "dedup_simhash",
    rf"""
    WITH sh AS (
      SELECT doc_id, {_sql_shingles('w')} AS shingles
      FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents)
    ),
    hashed AS (
      SELECT doc_id, list_transform(shingles, s -> {_sql_md5int('s')}) AS hs
      FROM sh WHERE len(shingles) > 0
    ),
    sigs AS (SELECT doc_id, {_sql_simhash()} AS simhash FROM hashed)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sigs a, sigs b
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 32-bit majority-vote signature over shingle
    hashes; pairs within Hamming distance. Scale path buckets signature
    bytes (same LSH join shape) instead of the pairwise filter used at
    fixture size."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.simhash_signatures(docs)
    return dd.simhash_pairs(sigs, SIMHASH_MAX_HAMMING)


FUZZY_PREFIX = 12       # blocking key: first chars of the text
FUZZY_LEN_BAND = 8      # |len(a) - len(b)| cap inside a block
FUZZY_CMP_CHARS = 120   # edit distance computed on this prefix
FUZZY_MAX_DIST = 20     # pair survives at or below this distance


@register(
    "dedup_fuzzy_levenshtein",
    f"""
    WITH d AS (SELECT doc_id, text FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(substr(a.text, 1, {FUZZY_CMP_CHARS}),
                            substr(b.text, 1, {FUZZY_CMP_CHARS})) AS BIGINT)
             AS edit_dist
    FROM d a JOIN d b
      ON substr(a.text, 1, {FUZZY_PREFIX}) = substr(b.text, 1, {FUZZY_PREFIX})
     AND a.doc_id < b.doc_id
    WHERE abs(length(a.text) - length(b.text)) <= {FUZZY_LEN_BAND}
      AND levenshtein(substr(a.text, 1, {FUZZY_CMP_CHARS}),
                      substr(b.text, 1, {FUZZY_CMP_CHARS})) <= {FUZZY_MAX_DIST}
    """,
)
def dedup_fuzzy_levenshtein(spark, sf_dir):
    """Edit-distance near-dup with PREFIX BLOCKING — the character-level
    member of the dedup family (MinHash/SimHash/Jaccard are token-level;
    small in-place edits that preserve most tokens are cheapest to catch
    with bounded Levenshtein).

    Blocking makes it tractable: candidates must share their first
    {FUZZY_PREFIX} characters (an EQUI-join — one hash shuffle, never a
    cross product) and sit within {FUZZY_LEN_BAND} characters in length
    (a cheap pushed filter; |len(a)-len(b)| lower-bounds edit distance,
    so the band never discards a pair the distance cap would keep if
    the cap is below it). The O(n*m) dynamic program runs only on
    surviving candidates, capped to the first {FUZZY_CMP_CHARS} chars —
    bounded work per pair.

    100 TB shape: block sizes are the knob — a hot prefix (boilerplate
    openings) fattens one reducer, at which point the blocking key
    extends (prefix + length bucket), the same skew treatment as the
    hot-shingle prefix filter in dedup_ngram_jaccard. Spark's
    levenshtein() and DuckDB's are both the classic Wagner-Fischer
    distance, so pairs value-check exactly."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("_ta"),
        F.substring("text", 1, FUZZY_PREFIX).alias("_blk"),
        F.length("text").alias("_la"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("_tb"),
        F.substring("text", 1, FUZZY_PREFIX).alias("_blk"),
        F.length("text").alias("_lb"),
    )
    dist = F.levenshtein(
        F.substring("_ta", 1, FUZZY_CMP_CHARS),
        F.substring("_tb", 1, FUZZY_CMP_CHARS),
    )
    return (
        a.join(b, "_blk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= FUZZY_LEN_BAND)
        )
        .select("id_a", "id_b", dist.cast("bigint").alias("edit_dist"))
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
    )


@register(
    "soft_dedup_weights",
    """
    WITH h AS (
      SELECT doc_id, md5(text) AS text_hash FROM documents
    ),
    c AS (
      SELECT text_hash, count(*) AS cluster_size FROM h GROUP BY text_hash
    )
    SELECT h.doc_id,
           CAST(c.cluster_size AS BIGINT) AS cluster_size,
           CAST(1000000 // c.cluster_size AS BIGINT) AS weight_ppm
    FROM h JOIN c USING (text_hash)
    """,
)
def soft_dedup_weights(spark, sf_dir):
    """SOFT dedup (SoftDeDup / SlimPajama-style): instead of DROPPING
    exact duplicates, every document gets sampling weight
    1/cluster_size, so each distinct content unit contributes one
    effective copy while nothing is discarded — the weights feed the
    same Efraimidis-Spirakis machinery as dsir_resample /
    mixture_sample. Weight is an exact integer (parts-per-million,
    floor), so the value check is BIGINT-exact on both engines.

    Reference tie-in: the PK dedup of S8/J3 (src/db/migrations.ts:21)
    relaxed from a constraint to a weighting — the curation-pipeline
    generalization.

    100 TB shape: ONE shuffle on the well-distributed content hash (a
    window COUNT over the hash partition — cluster sizes never leave
    their reducer, no join-back pass); the text column is dropped
    before the shuffle, so the exchange carries (id, 16-byte hash)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", F.md5("text").alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return h.select(
        "doc_id",
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
    ).withColumn(
        # integer DIV, never a double round-trip: exact on both engines
        "weight_ppm",
        F.expr("1000000 div cluster_size").cast("bigint"),
    )


@register(
    "dedup_rate_by_source",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
           CAST((count(*) - count(DISTINCT md5(text))) * 1000000
                // count(*) AS BIGINT) AS dup_rate_ppm
    FROM documents GROUP BY source
    """,
)
def dedup_rate_by_source(spark, sf_dir):
    """Corpus-governance report: per-source exact-duplicate rate (the
    number every curation pipeline tracks per crawl/feed to catch a
    source gone degenerate). ONE aggregation — count + count(DISTINCT
    content-hash) share the grouping via the Expand pass — and exact
    integer ppm so the value check is BIGINT-exact.

    100 TB shape: one shuffle keyed by (source, hash) partials; text is
    reduced to its 16-byte hash before the exchange. The
    approx_count_distinct swap is the sketch path when exactness can
    yield."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", F.md5("text").alias("h"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("h").cast("bigint").alias("n_distinct"),
        )
        .withColumn(
            "dup_rate_ppm",
            F.expr("(n_docs - n_distinct) * 1000000 div n_docs").cast("bigint"),
        )
    )
