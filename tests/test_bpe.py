"""Byte-level BPE tokenizer (functions/bpe.py): exact round trips over
arbitrary UTF-8, deterministic training, merge-replay correctness,
compression on repetitive text, and the distributed encode path."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from starryskyqueryengine_spark.functions.bpe import (
    bpe_decode,
    bpe_encode,
    tokenize_corpus,
    train_bpe,
)

CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "the streaming stream streams the streamed streams",
    "sparks spark sparking sparked sparkly",
    "ünïcödé and emoji 🚀 survive byte-level tokenization ✓",
]


@pytest.fixture(scope="module")
def merges():
    return train_bpe(CORPUS, n_merges=100)


def test_training_is_deterministic(merges):
    assert train_bpe(CORPUS, n_merges=100) == merges
    assert train_bpe(list(reversed(CORPUS)), n_merges=100) == merges


def test_roundtrip_on_training_and_unseen_text(merges):
    for t in CORPUS + ["wholly unseen θ text", "", "  ", "a", "🚀🚀🚀"]:
        assert bpe_decode(bpe_encode(t, merges)) == t


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_roundtrip_is_exact_for_any_unicode(merges, s):
    """Byte-level alphabet => lossless on EVERY string, including
    surrogara-free astral chars, control bytes, mixed scripts."""
    assert bpe_decode(bpe_encode(s, merges)) == s


def test_merges_compress_repetitive_text(merges):
    t = "the stream the stream the stream the stream"
    toks = bpe_encode(t, merges)
    assert len(toks) < len(t.encode("utf-8")) * 0.6


def test_merges_never_lengthen(merges):
    for t in CORPUS + ["zzzz completely out of domain 12345"]:
        assert len(bpe_encode(t, merges)) <= len(t.encode("utf-8"))


def test_merge_ranks_apply_lowest_first():
    """Encoding must replay merges in RANK order, not left-to-right
    greedily: construct merges where order changes the outcome."""
    merges = [(b"b", b"c"), (b"a", b"b")]
    # rank 0 (b+c) must win inside "abc": a, bc — not ab, c
    assert bpe_encode("abc", merges) == [b"a", b"bc"]


def test_empty_training_corpus():
    assert train_bpe([], n_merges=10) == []
    assert bpe_encode("text", []) == [bytes([b]) for b in b"text"]


def test_tokenize_corpus_distributed(spark, merges):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)] + [(99, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in tokenize_corpus(
            df, "text", merges,
            "doc_id long, n_tokens long, n_bytes long, roundtrip_ok boolean",
        ).collect()
    }
    assert all(r["roundtrip_ok"] for r in out.values())
    assert out[99]["n_tokens"] == 0  # null text treated as empty
    for i, t in enumerate(CORPUS):
        assert out[i]["n_bytes"] == len(t.encode("utf-8"))
        assert out[i]["n_tokens"] <= out[i]["n_bytes"]


def test_merge_cache_keeps_one_entry_per_dir(spark, tmp_path):
    """A regenerated documents fixture replaces its directory's merge
    table instead of adding one per fingerprint."""
    import os
    import shutil

    from starryskyqueryengine_spark import catalog_text as ct
    from starryskyqueryengine_spark.sources.fixtures import table_fingerprint

    sf = str(tmp_path)
    doc = f"{sf}/documents.parquet"
    shutil.copy("/root/testdata/sf0.001/documents.parquet", doc)
    n0 = len(ct._BPE_MERGES_CACHE)
    first = ct._bpe_merges_for(spark, sf)
    st = os.stat(doc)
    os.utime(doc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert ct._bpe_merges_for(spark, sf) == first
    assert len(ct._BPE_MERGES_CACHE) == n0 + 1
    assert ct._BPE_MERGES_CACHE[sf][0] == table_fingerprint(sf, "documents")
