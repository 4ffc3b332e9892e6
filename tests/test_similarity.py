"""Similarity + dedup behavioral tests: LSH ANN recall vs exact top-k,
planted near-dup recovery, signature determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from starryskyqueryengine_spark.catalog_dedup import (
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
)
from starryskyqueryengine_spark.functions import similarity as sim
from starryskyqueryengine_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_lsh_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    base = emb.filter(F.col("vec_id") >= 5)
    exact = sim.brute_force_topk(queries, base, 10)
    approx = sim.lsh_topk(queries, base, 10, n_bits=4, n_tables=8, dim=64)
    e = {(r["q_id"], r["nn_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["nn_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 4-bit hyperplane LSH on random 64-dim data: modest recall is
    # expected; the point is plumbing + determinism, floor it loosely.
    assert recall >= 0.5, f"LSH recall collapsed: {recall}"
    # approx results must be a subset of valid base ids
    assert all(q < 5 and n >= 5 for q, n in a)


def test_lsh_deterministic(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    b = emb.filter(F.col("vec_id") >= 3)
    r1 = sorted(map(tuple, sim.lsh_topk(q, b, 5).collect()))
    r2 = sorted(map(tuple, sim.lsh_topk(q, b, 5).collect()))
    assert r1 == r2


def test_minhash_lsh_finds_planted_near_dups(spark):
    """The documents fixture plants near-dup pairs (jaccard ~0.9); the
    LSH path must recover what exact pairwise finds at that level."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup_ngram_jaccard(spark, SF).filter(F.col("jaccard") >= 0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup_minhash_lsh(spark, SF).filter(F.col("jaccard") >= 0.8).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"minhash LSH missed planted dups: {recall}"


def test_ivf_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    base = emb.filter(F.col("vec_id") >= 5)
    exact = sim.brute_force_topk(queries, base, 10)
    approx = sim.ivf_topk(queries, base, 10, n_centroids=16, n_probe=4)
    e = {(r["q_id"], r["nn_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["nn_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall collapsed: {recall}"
    assert all(q < 5 and n >= 5 for q, n in a)
    # every query returns exactly k rows (probed cells are non-empty)
    counts = approx.groupBy("q_id").count().collect()
    assert all(r["count"] == 10 for r in counts)


def test_ivf_deterministic(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    b = emb.filter(F.col("vec_id") >= 3)
    r1 = sorted(map(tuple, sim.ivf_topk(q, b, 5).collect()))
    r2 = sorted(map(tuple, sim.ivf_topk(q, b, 5).collect()))
    assert r1 == r2


def test_connected_components_vs_union_find(spark):
    from starryskyqueryengine_spark.functions import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (5, 6)],
        "id_a long, id_b long",
    )
    got = {(r["id"], r["component"]) for r in dd.connected_components(pairs).collect()}

    # driver-side union-find ground truth
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (5, 6)]:
        union(a, b)
    want = {(x, find(x)) for x in parent}
    assert got == want


def test_dedup_survivors_one_per_cluster(spark):
    from starryskyqueryengine_spark.functions import dedup as dd

    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    surv = {r["doc_id"] for r in dd.dedup_survivors(docs, pairs).collect()}
    # clusters {1,2,3}->1, {10,11}->10, {20,21}->20; everything else kept
    assert 1 in surv and 2 not in surv and 3 not in surv
    assert 10 in surv and 11 not in surv
    assert 20 in surv and 21 not in surv
    assert len(surv) == 30 - 4


def test_connected_components_distributed_path_matches_driver_path(spark):
    from starryskyqueryengine_spark.functions import dedup as dd

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11), (20, 21), (5, 6), (6, 1)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r["id"], r["component"])
            for r in dd.connected_components(pairs).collect()}
    dist = {(r["id"], r["component"])
            for r in dd.connected_components(pairs, driver_threshold=0).collect()}
    assert fast == dist


def test_kmeans_fit_recovers_planted_clusters(spark):
    """Three well-separated direction clusters -> trained centroids align
    with the true cluster directions (cos > 0.99) and beat the raw init."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(7)
    true = np.eye(3, 8)  # three orthogonal direction prototypes in 8-d
    rows = []
    for i in range(120):
        c = i % 3
        v = true[c] + rng.normal(0, 0.05, 8)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(rows)
    C = sim.kmeans_fit(df, 3, iters=6, tol=1e-6)
    # each true direction matched by some centroid
    Tn = true / np.linalg.norm(true, axis=1, keepdims=True)
    sims = C @ Tn.T
    assert float(np.min(np.max(sims, axis=0))) > 0.99, sims


def test_kmeans_fit_deterministic(spark):
    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 200)
    import numpy as np

    C1 = sim.kmeans_fit(emb, 8, iters=3)
    C2 = sim.kmeans_fit(emb.repartition(7), 8, iters=3)
    assert np.allclose(C1, C2, atol=1e-9)


def test_ivf_trained_recall_not_worse(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    base = emb.filter(F.col("vec_id") >= 5)
    exact = {(r["q_id"], r["nn_id"])
             for r in sim.brute_force_topk(queries, base, 10).collect()}

    def recall(train_iters):
        a = {(r["q_id"], r["nn_id"])
             for r in sim.ivf_topk(queries, base, 10, n_centroids=16,
                                   n_probe=4, train_iters=train_iters).collect()}
        return len(exact & a) / len(exact)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0 - 0.05, f"training degraded recall: {r0} -> {r2}"
    assert r2 >= 0.5


def test_embedding_quantize_reconstruction_bound(spark):
    """int8 quantization invariant: every element reconstructs within
    half a quantization step (|x - q/scale| <= 0.5/scale), and the
    largest-magnitude element maps to +/-127."""
    from starryskyqueryengine_spark.catalog import get_queries
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = get_queries()["embedding_quantize"](spark, sf).collect()
    emb = {r["vec_id"]: r["embedding"]
           for r in spark.read.parquet(f"{sf}/embeddings.parquet")
           .filter(F.col("vec_id") < 20).collect()}
    checked = 0
    for row in out:
        if row["vec_id"] not in emb:
            continue
        x = emb[row["vec_id"]]
        scale = row["scale"]
        qv = [int(round(v * scale)) for v in x]  # reference half-even vs our
        # half-up differ only at exact ties, impossible for these values
        assert max(abs(q) for q in qv) == 127
        assert sum(abs(q) for q in qv) == row["q_l1"]
        assert sum(q * q for q in qv) == row["q_sq"]
        assert all(abs(v - q / scale) <= 0.5 / scale + 1e-12 for v, q in zip(x, qv))
        checked += 1
    assert checked == 20


def test_semantic_dedup_pairs_are_within_cell_and_above_tau(spark):
    """Every flagged duplicate must name an earlier cluster-mate whose
    exact cosine clears tau; every unflagged vector must have NO earlier
    same-cell neighbor above tau (soundness + completeness vs a
    brute-force numpy check)."""
    import numpy as np

    from starryskyqueryengine_spark.catalog_similarity import (
        N_CENTROIDS,
        SEMDEDUP_TAU,
    )
    from starryskyqueryengine_spark.functions import similarity as sim
    from starryskyqueryengine_spark.sources.fixtures import load_table

    emb = load_table(spark, SF, "embeddings")
    out = {r["vec_id"]: r for r in sim.semantic_dedup(
        emb, N_CENTROIDS, SEMDEDUP_TAU).collect()}

    rows = emb.collect()
    V = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    for v in V.values():
        v /= max(np.linalg.norm(v), 1e-300)

    cell = {vid: out[vid]["centroid_id"] for vid in out}
    pts = sorted(vid for vid in V if vid >= N_CENTROIDS)
    assert set(pts) == set(out)

    for vid in pts:
        earlier_hits = [
            a for a in pts
            if a < vid and cell[a] == cell[vid]
            and round(float(V[a] @ V[vid]), 6) >= SEMDEDUP_TAU
        ]
        r = out[vid]
        if earlier_hits:
            assert r["is_dup"] and r["dup_of"] == min(earlier_hits), (vid, r)
        else:
            assert not r["is_dup"] and r["dup_of"] is None, (vid, r)


def test_semantic_dedup_cost_is_subquadratic_in_pairs(spark):
    """The within-cell self-join must compare strictly fewer pairs than
    the all-pairs kernel would — the point of SemDeDup's clustering."""
    from starryskyqueryengine_spark.catalog_similarity import N_CENTROIDS
    from starryskyqueryengine_spark.functions import similarity as sim
    from starryskyqueryengine_spark.sources.fixtures import load_table

    emb = load_table(spark, SF, "embeddings")
    assigned = sim.centroid_assign(emb, N_CENTROIDS)
    sizes = [r["c"] for r in assigned.groupBy("centroid_id")
             .agg(F.count("*").alias("c")).collect()]
    n = sum(sizes)
    within_cell_pairs = sum(s * (s - 1) // 2 for s in sizes)
    all_pairs = n * (n - 1) // 2
    assert within_cell_pairs < all_pairs * 0.5, (within_cell_pairs, all_pairs)


def test_prefix_filter_same_output_as_full_index(spark):
    """AllPairs prefix filtering must be output-identical to the full
    inverted index on the real fixture corpus (the completeness lemma,
    checked empirically)."""
    from starryskyqueryengine_spark.functions import dedup as dd

    docs = load_table(spark, SF, "documents")
    sh = dd.with_shingles(docs.select("doc_id", "text")).filter(
        F.size("shingles") > 0
    )
    full = sorted(map(tuple, dd.jaccard_pairs_blocked(sh, 0.8).collect()))
    pref = sorted(
        map(tuple, dd.jaccard_pairs_blocked(sh, 0.8, prefix_filter=True).collect())
    )
    assert full == pref and len(full) > 0


def test_prefix_filter_bounds_hot_shingle_fanout(spark):
    """A shingle shared by EVERY doc (boilerplate) drives the full
    inverted index to n^2/2 candidate pairs; the prefix filter sorts it
    last in every doc's rarest-first order, so it falls outside all
    prefixes — candidates collapse to just the genuine near-dup pair,
    which must still be found (completeness under skew)."""
    from starryskyqueryengine_spark.functions import dedup as dd

    rows = [(i, [f"u{i}_{j}" for j in range(12)] + ["HOT"]) for i in range(60)]
    rows += [(100, [f"d_{j}" for j in range(12)] + ["HOT"]),
             (101, [f"d_{j}" for j in range(12)] + ["HOT"])]
    sh = spark.createDataFrame(rows, "doc_id long, shingles array<string>")

    cands = dd.prefix_candidates(sh, 0.8)
    got = sorted(map(tuple, cands.collect()))
    # full index would emit C(62,2) = 1891 HOT-joined candidate pairs
    assert got == [(100, 101)]

    out = dd.jaccard_pairs_blocked(sh, 0.8, prefix_filter=True).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in out] == [(100, 101, 1.0)]


def test_connected_components_long_chain_converges_in_log_rounds(spark):
    """A 200-node path graph has diameter 199: min-label propagation
    needs ~200 rounds, far past the default max_iter=20. Two-star
    contraction (Kiveris 2014) must converge inside the default budget
    and still produce component = min id for every node."""
    from starryskyqueryengine_spark.functions import dedup as dd

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        (r["id"], r["component"])
        for r in dd.connected_components(pairs, driver_threshold=0).collect()
    }
    assert got == {(i, 0) for i in range(n)}


def test_connected_components_distributed_random_vs_union_find(spark):
    """Randomized cross-check of the two-star distributed path against
    driver union-find on an Erdos-Renyi-ish pair set (fixed seed)."""
    import random

    from starryskyqueryengine_spark.functions import dedup as dd

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["id"], r["component"])
        for r in dd.connected_components(pairs, driver_threshold=0).collect()
    }
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(x, find(x)) for x in parent}
    assert got == want


def test_kmeans_fit_exact_deterministic_and_integer_directions(spark):
    """Engine-exact trainer (round 8): identical centroids under any
    repartitioning (integer accumulation — no float-sum order
    dependence), unit-norm output rows, and integer directions (each
    returned row is an exact integer vector divided by its norm)."""
    import numpy as np

    from starryskyqueryengine_spark.functions.similarity import (
        kmeans_fit_exact,
    )
    from starryskyqueryengine_spark.sources.fixtures import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") >= 5)
    C1 = kmeans_fit_exact(base, 8, iters=2)
    C2 = kmeans_fit_exact(base.repartition(7), 8, iters=2)
    assert (C1 == C2).all()
    assert C1.shape == (8, 64)
    assert np.allclose(np.linalg.norm(C1, axis=1), 1.0)


def test_ann_ivf_topk_trained_recall_vs_exact(spark):
    """The exact-trainer IVF must keep useful recall vs brute force
    (the original rows-only query's recall contract, now on the
    value-checked path)."""
    from starryskyqueryengine_spark import catalog_similarity as cs
    from starryskyqueryengine_spark.catalog_similarity import (
        ann_cosine_topk,
        ann_ivf_topk,
    )

    sf = "/root/testdata/sf0.001"
    cs._IVF_CENTROIDS.pop(sf, None)  # force a fresh train in this process
    exact = {
        (r["q_id"], r["nn_id"]) for r in ann_cosine_topk(spark, sf).collect()
    }
    approx = {
        (r["q_id"], r["nn_id"]) for r in ann_ivf_topk(spark, sf).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def _touch(path):
    """Move a file's mtime forward: a regenerated fixture, as the
    fingerprint sees it."""
    import os

    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def test_ivf_centroid_cache_keeps_one_entry_per_dir(spark, tmp_path):
    """A regenerated fixture replaces its directory's centroid entry
    instead of adding one per fingerprint."""
    import shutil

    from starryskyqueryengine_spark import catalog_similarity as cs
    from starryskyqueryengine_spark.sources.fixtures import table_fingerprint

    sf = str(tmp_path)
    shutil.copy(f"{SF}/embeddings.parquet", sf)
    n0 = len(cs._IVF_CENTROIDS)
    cs.ann_ivf_topk(spark, sf)
    _touch(f"{sf}/embeddings.parquet")
    cs.ann_ivf_topk(spark, sf)
    assert len(cs._IVF_CENTROIDS) == n0 + 1
    assert cs._IVF_CENTROIDS[sf][0] == table_fingerprint(sf, "embeddings")


def test_ivf_index_reused_by_a_fresh_session(spark, monkeypatch, tmp_path):
    """The stored IVF index is a directory, not session state: a second
    ann_ivf_indexed_topk in a fresh SparkSession probes the index the
    first call built, with no rebuild and the same rows."""
    import os
    import tempfile

    from starryskyqueryengine_spark import catalog_similarity as cs
    from starryskyqueryengine_spark.sources.fixtures import artifact_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = sorted(map(tuple, cs.ann_ivf_indexed_topk(spark, SF).collect()))
    path = artifact_dir("ivf", SF, "embeddings")
    assert os.path.exists(os.path.join(path, sim.IVF_MANIFEST))
    builds = []
    monkeypatch.setattr(sim, "ivf_build_index", lambda *a, **k: builds.append(a))
    again = cs.ann_ivf_indexed_topk(spark.newSession(), SF)
    assert sorted(map(tuple, again.collect())) == first and builds == []


def test_ivf_index_refuses_foreign_owned_dir(monkeypatch, tmp_path):
    """ann_ivf_indexed_topk goes through the shared ownership gate: a
    directory at the predictable per-uid path that another uid owns is
    refused at path computation, and one planted after that is refused
    where the manifest is trusted — never probed as embeddings data."""
    import os
    import tempfile

    import pytest

    from starryskyqueryengine_spark import catalog_similarity as cs
    from starryskyqueryengine_spark.sources.fixtures import artifact_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    path = artifact_dir("ivf", SF, "embeddings")
    os.makedirs(path)
    with open(os.path.join(path, sim.IVF_MANIFEST), "w") as f:
        f.write("{}")
    real_stat = os.stat

    class _ForeignStat:
        def __init__(self, st):
            self._st = st
            self.st_uid = os.getuid() + 1

        def __getattr__(self, k):
            return getattr(self._st, k)

    monkeypatch.setattr(
        os, "stat",
        lambda p, *a, **k: _ForeignStat(real_stat(p, *a, **k))
        if str(p) == path else real_stat(p, *a, **k),
    )
    with pytest.raises(PermissionError, match="refusing"):
        cs.ann_ivf_indexed_topk(None, SF)
    # planted after the path check ran: the manifest trust point refuses it
    monkeypatch.setattr(cs, "artifact_dir", lambda *a: path)
    with pytest.raises(PermissionError, match="refusing"):
        cs.ann_ivf_indexed_topk(None, SF)


def test_containment_catches_excerpt_jaccard_misses(spark):
    """The motivating case for directional containment: a short passage
    reproduced verbatim inside a much larger page. Jaccard ~ |quote| /
    |page| is far below any near-dup cut, but containment is exactly 1.0
    — the blocked containment join must surface the pair (directed:
    the excerpt is the contained side) while the Jaccard path at the
    same threshold returns nothing."""
    from starryskyqueryengine_spark.functions import dedup as dd

    quote = " ".join(f"q{i}" for i in range(10))
    page = " ".join(f"p{i}" for i in range(150)) + " " + quote
    other = " ".join(f"z{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, page), (3, other)], "doc_id long, text string"
    )
    sh = dd.with_shingles(docs.select("doc_id", "text")).filter(
        F.size("shingles") > 0
    )
    got = dd.containment_pairs_blocked(sh, 0.75).collect()
    assert [(r["contained_id"], r["container_id"], r["containment"]) for r in got] == [
        (1, 2, 1.0)
    ]
    assert dd.jaccard_pairs_blocked(sh, 0.75).count() == 0


def test_containment_matches_all_pairs_bruteforce(spark):
    """Blocked containment == quadratic all-pairs on the real fixture
    corpus (the completeness lemma, checked empirically), and every
    emitted pair is correctly directed: contained side has the smaller
    shingle set (lower id on ties)."""
    from itertools import combinations

    from starryskyqueryengine_spark.functions import dedup as dd

    docs = load_table(spark, SF, "documents")
    sh = dd.with_shingles(docs.select("doc_id", "text")).filter(
        F.size("shingles") > 0
    )
    blocked = sorted(
        (r["contained_id"], r["container_id"], r["containment"])
        for r in dd.containment_pairs_blocked(sh, 0.75).collect()
    )
    local = {r["doc_id"]: set(r["shingles"]) for r in sh.collect()}
    brute = []
    for a, b in combinations(sorted(local), 2):
        c = len(local[a] & local[b])
        mn = min(len(local[a]), len(local[b]))
        if c / mn >= 0.75:
            small, big = (a, b) if len(local[a]) <= len(local[b]) else (b, a)
            brute.append((small, big, round(c / mn, 6)))
    assert blocked == sorted(brute) and len(blocked) > 0


def test_cross_source_dup_matrix_consistent_with_pair_set(spark):
    """The matrix is exactly a group-by over the verified MinHash pair
    set joined to sources: totals must agree and every row's source pair
    must be unordered-normalized (source_a <= source_b)."""
    from starryskyqueryengine_spark.catalog_dedup import (
        MINHASH_VERIFY_THRESHOLD,
        cross_source_dup_matrix,
    )
    from starryskyqueryengine_spark.functions import dedup as dd

    rows = cross_source_dup_matrix(spark, SF).collect()
    assert rows, "fixture plants near-dups; matrix must be non-empty"
    assert all(r["source_a"] <= r["source_b"] for r in rows)

    docs = load_table(spark, SF, "documents")
    sh, sigs = dd.minhash_signatures(docs)
    n_pairs = (
        dd.jaccard_verify(dd.lsh_candidate_pairs(sigs), sh)
        .filter(F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD)
        .count()
    )
    assert sum(r["n_dup_pairs"] for r in rows) == n_pairs


def test_prefix_filter_exact_at_integral_threshold_boundary(spark):
    """(1-t)*n computed in binary floats UNDERSHOOTS the prefix by one
    whenever t*n is mathematically integral ((1-0.8)*5 ->
    0.9999999999999998 -> floor 0): a J=0.8 pair whose only shared
    prefix element is the SECOND-rarest shingle then never becomes a
    candidate.  Pin the exact-arithmetic prefix length."""
    from starryskyqueryengine_spark.functions import dedup as dd

    # A has one globally-unique rarest shingle; B shares the rest.
    # J(A,B) = 4/5 = 0.8 exactly; the correct prefixes are A->2, B->1
    # elements, intersecting only at s2 (A's second prefix slot).
    sh = spark.createDataFrame(
        [
            (1, ["a_unique", "s2", "s3", "s4", "s5"]),
            (2, ["s2", "s3", "s4", "s5"]),
        ],
        "doc_id long, shingles array<string>",
    )
    cands = sorted(map(tuple, dd.prefix_candidates(sh, 0.8).collect()))
    assert cands == [(1, 2)]
    out = dd.jaccard_pairs_blocked(sh, 0.8, prefix_filter=True).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in out] == [(1, 2, 0.8)]


def test_connected_components_driver_path_preserves_string_ids(spark):
    """The driver union-find path must keep the caller's id type (string
    doc_ids are the dedup_survivors norm) and agree with the distributed
    path's labels — correctness must not depend on which strategy
    branch fires."""
    from starryskyqueryengine_spark.functions import dedup as dd

    edges = [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("doc-x", "doc-y")]
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    fast = dd.connected_components(pairs)
    assert dict(fast.dtypes) == {"id": "string", "component": "string"}
    got = {(r["id"], r["component"]) for r in fast.collect()}
    want = {
        ("doc-a", "doc-a"), ("doc-b", "doc-a"), ("doc-c", "doc-a"),
        ("doc-x", "doc-x"), ("doc-y", "doc-x"),
    }
    assert got == want
    dist = {(r["id"], r["component"])
            for r in dd.connected_components(pairs, driver_threshold=0).collect()}
    assert dist == want


def test_max_df_stop_shingle_bounds_fanout_exact_values(spark):
    """Verdict r8 #6: the df cap must bound hot-shingle pair fan-out in
    the blocked inverted-index core itself.  One shingle shared by all
    62 docs would emit C(62,2)=1891 candidate pairs; with max_df the
    candidate space collapses to the genuine near-dup pair, whose
    jaccard/containment values must be EXACT (the verify step recomputes
    them from full arrays — the capped index's c is only a lower bound)."""
    from pyspark.sql import functions as F

    from starryskyqueryengine_spark.functions import dedup as dd

    rows = [(i, [f"u{i}_{j}" for j in range(12)] + ["HOT"]) for i in range(60)]
    rows += [(100, [f"d_{j}" for j in range(12)] + ["HOT"]),
             (101, [f"d_{j}" for j in range(12)] + ["HOT"])]
    sh = spark.createDataFrame(rows, "doc_id long, shingles array<string>")

    # candidate fan-out is bounded: only the genuine pair co-occurs
    # under a sub-threshold-df shingle
    cands = dd._blocked_intersection_counts(sh, "doc_id", max_df=10)
    got = sorted((r["id_a"], r["id_b"]) for r in cands.collect())
    assert got == [(100, 101)]
    # the capped c is a LOWER bound (12 shared non-hot shingles; the
    # 13th shared shingle HOT was dropped from the index)
    assert cands.collect()[0]["c"] == 12

    # jaccard: pair found, value EXACT (13/13 = 1.0, including HOT)
    out = dd.jaccard_pairs_blocked(sh, 0.8, max_df=10).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in out] == [(100, 101, 1.0)]

    # containment: same pair, exact directional value
    out = dd.containment_pairs_blocked(sh, 0.8, max_df=10).collect()
    assert [(r["contained_id"], r["container_id"], r["containment"])
            for r in out] == [(100, 101, 1.0)]

    # uncapped paths on a hot-free corpus agree with capped ones
    clean = sh.select("doc_id", F.array_remove("shingles", "HOT").alias("shingles"))
    base = sorted(map(tuple, dd.jaccard_pairs_blocked(clean, 0.8).collect()))
    capped = sorted(map(tuple, dd.jaccard_pairs_blocked(clean, 0.8, max_df=10).collect()))
    assert base == capped == [(100, 101, 1.0)]
