"""Byte-level BPE tokenizer: train, encode, decode — pure Python, no
external libraries.  Implements the PUBLIC byte-pair-encoding algorithm
(Gage 1994; applied to NMT subwords by Sennrich et al. 2016; byte-level
variant popularized by GPT-2, Radford et al. 2019):

- training starts from raw bytes, repeatedly merging the most frequent
  adjacent symbol pair within pre-tokenized words (ties break on the
  lexicographically smallest pair, so training is fully deterministic);
- encoding replays the learned merges lowest-rank-first per word;
- decoding is byte concatenation — the byte-level alphabet makes every
  UTF-8 string round-trip EXACTLY, with no unknown-token loss.

Scale split (the standard practice for 100 TB corpora):

- TRAIN is a one-time job over a bounded sample — vocabulary quality
  saturates long before corpus size does, so the sample is collected
  with a deterministic cap and trained driver-side (build once, serve
  many, like the IVF centroids; the BM25 index that bm25_indexed_search
  serves is instead maintained incrementally).
- ENCODE is the hot path: a broadcast merge table + Arrow-batched
  ``mapInPandas`` over the corpus — pure data parallelism, per-task
  memory is one batch, no shuffle.

The reference engine has no tokenizer (it stores raw post text,
src/subscription.ts:300-320); this is north-star LLM-pipeline surface.
"""

from __future__ import annotations

import re
from collections import Counter

_PRETOKEN = re.compile(rb"\S+|\s+")


def _pretoken_words(text: str) -> list[bytes]:
    return _PRETOKEN.findall(text.encode("utf-8"))


def train_bpe(texts, n_merges: int = 256) -> list[tuple[bytes, bytes]]:
    """Learn ``n_merges`` byte-pair merges from an iterable of texts.

    Returns the ordered merge list; order IS the rank table. Determinism:
    pair counts tie-break on the smallest (left, right) byte pair, so
    identical input yields an identical vocabulary on any platform."""
    word_freq: Counter = Counter()
    for t in texts:
        word_freq.update(_pretoken_words(t))
    # symbol sequences per distinct word
    seqs: dict[bytes, list[bytes]] = {
        w: [bytes([b]) for b in w] for w in word_freq
    }
    merges: list[tuple[bytes, bytes]] = []
    for _ in range(n_merges):
        pair_counts: Counter = Counter()
        for w, freq in word_freq.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                pair_counts[(a, b)] += freq
        if not pair_counts:
            break
        # tie-break: highest count, then lexicographically SMALLEST pair
        top = max(pair_counts.values())
        best_pair = min(p for p, c in pair_counts.items() if c == top)
        if pair_counts[best_pair] < 2:
            break  # nothing left worth merging
        merges.append(best_pair)
        a, b = best_pair
        ab = a + b
        for w in seqs:
            s = seqs[w]
            if len(s) < 2:
                continue
            out = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges


def bpe_encode(
    text: str,
    merges: list[tuple[bytes, bytes]],
    ranks: dict | None = None,
) -> list[bytes]:
    """Encode ``text`` to a token list by replaying merges rank-first
    within each pre-token word. Tokens are byte strings; ids would be a
    dict lookup away (kept as bytes so decode is pure concatenation).

    ``ranks`` (pair -> merge index) can be passed prebuilt; bulk callers
    (tokenize_corpus) build it once per task instead of re-deriving the
    dict for every document."""
    if ranks is None:
        ranks = {pair: i for i, pair in enumerate(merges)}
    out: list[bytes] = []
    for w in _pretoken_words(text):
        s = [bytes([b]) for b in w]
        while len(s) > 1:
            best_rank = None
            best_i = -1
            for i, pair in enumerate(zip(s, s[1:])):
                r = ranks.get(pair)
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            s[best_i : best_i + 2] = [s[best_i] + s[best_i + 1]]
        out.extend(s)
    return out


def bpe_decode(tokens: list[bytes]) -> str:
    """Inverse of encode: byte concatenation (exact by construction)."""
    return b"".join(tokens).decode("utf-8")


def tokenize_corpus(df, text_col: str, merges, out_schema: str):
    """Distributed encode: Arrow-batched ``mapInPandas`` with the merge
    table captured in the task closure (a broadcast-sized list — 4 KB
    per 256 merges). Emits (doc_id, n_tokens, n_bytes, roundtrip_ok)."""
    import pandas as pd

    def run(batches):
        ranks = {pair: i for i, pair in enumerate(merges)}  # once per task
        for pdf in batches:
            n_tok, n_b, ok = [], [], []
            for t in pdf[text_col]:
                t = t or ""
                toks = bpe_encode(t, merges, ranks)
                n_tok.append(len(toks))
                n_b.append(len(t.encode("utf-8")))
                ok.append(bpe_decode(toks) == t)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": n_tok,
                    "n_bytes": n_b,
                    "roundtrip_ok": ok,
                }
            )

    return df.mapInPandas(run, out_schema)
