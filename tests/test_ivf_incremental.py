"""Incremental IVF index maintenance invariants: append / tombstone
delete / compact against a stored index directory (the vector twin of
tests/test_retrieval_index.py).

Centroids are frozen at build time (the FAISS IVF contract), so every
index here is built on the same base slice A — appends then share
centroids by construction and incremental layouts must probe
identically however the change batches were sliced."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from starryskyqueryengine_spark.functions import similarity as sim
from tests.test_plan_shapes import probed_cells

SF_DIR = "/root/testdata/sf0.001"
K = 10
N_PROBE = 4


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def world(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    A = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 300))
    B = emb.filter(F.col("vec_id") >= 300)
    B1 = B.filter(F.col("vec_id") < 400)
    B2 = B.filter(F.col("vec_id") >= 400)
    return emb, queries, A, B, B1, B2


def _build_on_A(A, path):
    sim.ivf_build_index(A, str(path), n_centroids=16)
    return str(path)


def test_append_batching_invariance_and_completeness(spark, world, tmp_path):
    emb, queries, A, B, B1, B2 = world
    t1 = _build_on_A(A, tmp_path / "one")
    sim.ivf_index_append(B, t1)
    t2 = _build_on_A(A, tmp_path / "two")
    sim.ivf_index_append(B1, t2)
    sim.ivf_index_append(B2, t2)

    # completeness: both indexes hold exactly A ∪ B with identical cells
    c1 = _rows(sim._ivf_lists(spark, t1).select("vec_id", "cell"))
    c2 = _rows(sim._ivf_lists(spark, t2).select("vec_id", "cell"))
    assert c1 == c2
    assert len(c1) == A.count() + B.count()

    # probes identical regardless of append slicing
    p1 = _rows(sim.ivf_probe_index(queries, t1, K, n_probe=N_PROBE))
    p2 = _rows(sim.ivf_probe_index(queries, t2, K, n_probe=N_PROBE))
    assert p1 == p2 and len(p1) == 5 * K

    # appended vectors are reachable: at least one B id in some top-k
    assert any(r[1] >= 300 for r in p1), "no appended vector ever retrieved"


def test_appended_cells_match_frozen_centroids(spark, world, tmp_path):
    emb, queries, A, B, B1, B2 = world
    t = _build_on_A(A, tmp_path / "idx")
    sim.ivf_index_append(B, t)
    C = np.load(os.path.join(t, "centroids.npy"))
    got = {r["vec_id"]: r["cell"] for r in sim._ivf_lists(spark, t).collect()}
    sample = B.limit(40).collect()
    for r in sample:
        x = np.asarray(r["embedding"], dtype=np.float64)
        xn = x / max(np.linalg.norm(x), 1e-300)
        sims = np.round(C @ xn, 6)
        # replicate the assigner's argmax w/ lowest-cell tie-break
        best = int(np.argmax(sims))
        assert got[r["vec_id"]] == best, r["vec_id"]


def test_delete_tombstones_equal_physical_removal(spark, world, tmp_path):
    emb, queries, A, B, B1, B2 = world
    doomed = [int(r["vec_id"]) for r in B.limit(30).collect()]

    t = _build_on_A(A, tmp_path / "tomb")
    sim.ivf_index_append(B, t)
    sim.ivf_index_delete(spark, t, doomed)

    ref = _build_on_A(A, tmp_path / "ref")
    sim.ivf_index_append(
        B.join(spark.createDataFrame([(i,) for i in doomed], "vec_id long"),
               "vec_id", "left_anti"),
        ref,
    )
    p_ts = _rows(sim.ivf_probe_index(queries, t, K, n_probe=N_PROBE))
    p_ref = _rows(sim.ivf_probe_index(queries, ref, K, n_probe=N_PROBE))
    assert p_ts == p_ref
    assert not any(r[1] in set(doomed) for r in p_ts)


def test_compact_folds_tombstones_results_unchanged(spark, world, tmp_path):
    emb, queries, A, B, B1, B2 = world
    doomed = [int(r["vec_id"]) for r in B.limit(25).collect()]
    t = _build_on_A(A, tmp_path / "idx")
    sim.ivf_index_append(B, t)
    n_before = sim._ivf_lists(spark, t).count()
    sim.ivf_index_delete(spark, t, doomed)
    before = _rows(sim.ivf_probe_index(queries, t, K, n_probe=N_PROBE))
    old_lists = sim._ivf_manifest(t)["lists"]

    sim.ivf_index_compact(spark, t)
    assert sim.ivf_tombstones(spark, t) is None
    # the survivors live in a fresh lists directory; the old one is gone
    assert not os.path.exists(os.path.join(t, old_lists))
    assert sorted(n for n in os.listdir(t) if n.startswith("lists_")) == [
        sim._ivf_manifest(t)["lists"]
    ]
    assert sim._ivf_lists(spark, t).count() == n_before - len(doomed)
    after = _rows(sim.ivf_probe_index(queries, t, K, n_probe=N_PROBE))
    assert before == after
    # the compacted index is appendable again
    sim.ivf_index_append(emb.filter(F.col("vec_id") < 5), t)
    assert sim._ivf_lists(spark, t).count() == n_before - len(doomed) + 5


def test_probe_stays_bucket_pruned_after_append(spark, world, tmp_path):
    """The probe's cell filter prunes the appended files like the built
    ones: a partition filter on ``cell`` naming fewer than all cells."""
    emb, queries, A, B, B1, B2 = world
    t = _build_on_A(A, tmp_path / "idx")
    sim.ivf_index_append(B, t)
    df = sim.ivf_probe_index(queries, t, K, n_probe=N_PROBE)
    cells = probed_cells(df._jdf.queryExecution().executedPlan().toString())
    assert cells is not None, "cell pruning lost after append"
    assert 0 < len(cells) < 16
