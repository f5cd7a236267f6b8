"""Unit tests for the two-level top-k kernel (functions/vector.py).

These run the mapInPandas generator directly on pandas batches — no
Spark session — pinning the properties the DuckDB oracles rely on:
exact top-k under arbitrary batch splits, the (cosine DESC, n_id ASC)
tie-break, bit-identical cosines regardless of batching, and the
multi-probe bucket mask.
"""

from __future__ import annotations

import math
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from iceberg_query_engine_spark.functions import vector
from iceberg_query_engine_spark.functions.vector import (
    multi_query_range_fn,
    multi_query_topk_fn,
)

RNG = np.random.default_rng(7)


def _split(df: pd.DataFrame, n: int):
    bounds = np.linspace(0, len(df), n + 1, dtype=int)
    return [df.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def _corpus(n: int, dim: int = 8) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "n_id": np.arange(100, 100 + n, dtype=np.int64),
            "v": [RNG.normal(size=dim) for _ in range(n)],
        }
    )


def _reference_topk(df: pd.DataFrame, q: np.ndarray, qids, k):
    """Sequential-fold reference: full score matrix, then lexsorted top-k."""
    out = {}
    m = np.vstack(df["v"].values)
    for j, qid in enumerate(qids):
        dots = np.zeros(len(df))
        vn2 = np.zeros(len(df))
        qn2 = 0.0
        for i in range(m.shape[1]):
            dots += m[:, i] * q[j, i]
            vn2 += m[:, i] * m[:, i]
            qn2 += q[j, i] * q[j, i]
        cos = np.round(dots / (np.sqrt(vn2) * np.sqrt(qn2)), 6)
        ids = df["n_id"].to_numpy()
        sel = np.lexsort((ids, -cos))[:k]
        out[qid] = list(zip(ids[sel], cos[sel]))
    return out


def _run(fn, batches):
    parts = list(fn(iter(batches)))
    if not parts:
        return pd.DataFrame({"q_id": [], "n_id": [], "cosine": []})
    return pd.concat(parts, ignore_index=True)


def _merge_global(df: pd.DataFrame, k: int):
    """The window-merge half of the two-level top-k, in pandas."""
    out = {}
    for qid, g in df.groupby("q_id"):
        sel = np.lexsort((g["n_id"].to_numpy(), -g["cosine"].to_numpy()))[:k]
        out[int(qid)] = list(
            zip(g["n_id"].to_numpy()[sel], g["cosine"].to_numpy()[sel])
        )
    return out


def test_matches_reference_any_batching():
    corpus = _corpus(300)
    q = RNG.normal(size=(4, 8))
    qids = np.array([0, 1, 2, 3])
    want = _reference_topk(corpus, q, qids, k=5)
    for nsplit in (1, 3, 7, 299):
        fn = multi_query_topk_fn(q, qids, k=5)
        batches = _split(corpus, nsplit)
        got = _merge_global(_run(fn, batches), k=5)
        assert got == want, f"nsplit={nsplit}"


def test_cosines_bit_identical_across_batch_sizes():
    corpus = _corpus(128)
    q = RNG.normal(size=(2, 8))
    qids = np.array([10, 11])
    a = _run(multi_query_topk_fn(q, qids, 128), [corpus])
    b = _run(
        multi_query_topk_fn(q, qids, 128),
        _split(corpus, 17),
    )
    am = {(r.q_id, r.n_id): r.cosine for r in a.itertuples()}
    bm = {(r.q_id, r.n_id): r.cosine for r in b.itertuples()}
    assert am == bm  # exact float equality, not approx


def test_tie_break_lowest_id_wins():
    # two corpus vectors identical to the query → cosine 1.0 tie
    base = np.ones(4)
    corpus = pd.DataFrame(
        {
            "n_id": np.array([900, 5, 42], dtype=np.int64),
            "v": [base.copy(), base.copy(), -base],
        }
    )
    fn = multi_query_topk_fn(np.array([base]), np.array([0]), k=2)
    got = _merge_global(_run(fn, [corpus]), k=2)
    assert [nid for nid, _ in got[0]] == [5, 900]


def test_probe_mask_restricts_candidates():
    corpus = _corpus(50)
    corpus["bucket"] = (corpus["n_id"] % 4).astype(np.int64)
    q = RNG.normal(size=(2, 8))
    qids = np.array([0, 1])
    fn = multi_query_topk_fn(
        q, qids, k=50, probe_buckets={0: {1, 2}, 1: {3}}
    )
    got = _run(fn, [corpus])
    by_q = {qid: set(g["n_id"]) for qid, g in got.groupby("q_id")}
    allowed0 = set(corpus[corpus["bucket"].isin([1, 2])]["n_id"])
    allowed1 = set(corpus[corpus["bucket"] == 3]["n_id"])
    assert by_q[0] == allowed0
    assert by_q[1] == allowed1


def test_masked_cosines_match_unmasked_values():
    """The subset fold must produce the same floats as the full fold."""
    corpus = _corpus(80)
    corpus["bucket"] = (corpus["n_id"] % 2).astype(np.int64)
    q = RNG.normal(size=(1, 8))
    qids = np.array([0])
    full = _run(multi_query_topk_fn(q, qids, 80), [corpus.drop(columns="bucket")])
    masked = _run(
        multi_query_topk_fn(q, qids, 80, probe_buckets={0: {0}}), [corpus]
    )
    fm = {r.n_id: r.cosine for r in full.itertuples()}
    for r in masked.itertuples():
        assert fm[r.n_id] == r.cosine  # exact


def test_empty_and_no_match_partitions():
    q = RNG.normal(size=(1, 8))
    fn = multi_query_topk_fn(q, np.array([0]), k=3)
    assert len(_run(fn, [])) == 0
    corpus = _corpus(10)
    corpus["bucket"] = np.int64(9)
    fn = multi_query_topk_fn(q, np.array([0]), 3, probe_buckets={0: {1}})
    assert len(_run(fn, [corpus])) == 0


def test_per_partition_output_bounded():
    corpus = _corpus(1000)
    fn = multi_query_topk_fn(RNG.normal(size=(3, 8)), np.arange(3), k=4)
    out = _run(fn, _split(corpus, 5))
    # ONE partition here (one generator call) → ≤ Q×k rows total
    assert len(out) <= 3 * 4


@pytest.mark.parametrize("k", [1, 5, 1000])
def test_k_larger_than_corpus(k):
    corpus = _corpus(6)
    fn = multi_query_topk_fn(RNG.normal(size=(1, 8)), np.array([0]), k=k)
    got = _merge_global(_run(fn, [corpus]), k)
    assert len(got[0]) == min(k, 6)


# ---------------------------------------------------------------- PQ/ADC
def _pq_reference(df: pd.DataFrame, C, cids, q, qids, k, n_sub):
    """Sequential-fold PQ reference: per-subspace nearest codeword
    (rounded L2^2, tie -> lowest id), ADC = sum of sub-dots."""
    order = np.argsort(cids, kind="stable")
    C = np.asarray(C, dtype=np.float64)[order]
    m = np.vstack(df["v"].values)
    ids = df["n_id"].to_numpy()
    dim = m.shape[1]
    sub = dim // n_sub
    out = {}
    adc_all = np.zeros((len(df), len(qids)))
    for mi in range(n_sub):
        dist = np.zeros((len(df), C.shape[0]))
        for i in range(sub):
            d = mi * sub + i
            diff = m[:, d][:, None] - C[None, :, d]
            dist += diff * diff
        code = np.argmin(np.round(dist, 6), axis=1)
        for j in range(len(qids)):
            lut = np.zeros(C.shape[0])
            for i in range(sub):
                d = mi * sub + i
                lut += q[j, d] * C[:, d]
            adc_all[:, j] += lut[code]
    adc_all = np.round(adc_all, 6)
    for j, qid in enumerate(qids):
        sel = np.lexsort((ids, -adc_all[:, j]))[:k]
        out[qid] = list(zip(ids[sel], adc_all[sel, j]))
    return out


def test_pq_adc_matches_reference_any_batching():
    corpus = _corpus(120, dim=16)
    C = np.vstack(corpus["v"].values[::17])  # 8 codewords
    cids = corpus["n_id"].to_numpy()[::17]
    q = RNG.normal(size=(3, 16))
    qids = np.array([0, 1, 2])
    ref = _pq_reference(corpus, C, cids, q, qids, 5, n_sub=4)
    for nb in (1, 2, 5, 120):
        fn = vector.pq_adc_topk_fn(C, cids, q, qids, 5, 4)
        parts = list(fn(iter(_split(corpus, nb))))
        got_df = pd.concat(parts, ignore_index=True)
        got = {}
        for qid, g in got_df.groupby("q_id"):
            sel = np.lexsort((g["n_id"].to_numpy(), -g["adc"].to_numpy()))[:5]
            got[int(qid)] = list(
                zip(g["n_id"].to_numpy()[sel], g["adc"].to_numpy()[sel])
            )
        assert got == ref, f"batching {nb} changed PQ result"


def test_pq_adc_tie_breaks_to_lowest_id():
    # two identical corpus vectors -> identical ADC; lower n_id ranks first
    base = RNG.normal(size=8)
    corpus = pd.DataFrame({"n_id": np.array([201, 200]), "v": [base, base]})
    C = np.vstack([base, RNG.normal(size=8)])
    fn = vector.pq_adc_topk_fn(
        C, np.array([0, 1]), np.array([base]), np.array([0]), 2, 2
    )
    got = pd.concat(list(fn(iter([corpus]))), ignore_index=True)
    assert got["n_id"].tolist() == [200, 201]
    assert got["adc"].iloc[0] == got["adc"].iloc[1]


def test_pq_codeword_id_order_irrelevant():
    """Codebook rows arriving in any id order quantize identically
    (the factory sorts by id; argmin-first then maps to lowest id)."""
    corpus = _corpus(60, dim=8)
    C = np.vstack(corpus["v"].values[:6])
    cids = np.arange(6, dtype=np.int64)
    q = RNG.normal(size=(2, 8))
    qids = np.array([0, 1])
    a = pd.concat(
        list(vector.pq_adc_topk_fn(C, cids, q, qids, 4, 2)(iter([corpus]))),
        ignore_index=True,
    )
    perm = RNG.permutation(6)
    b = pd.concat(
        list(
            vector.pq_adc_topk_fn(C[perm], cids[perm], q, qids, 4, 2)(
                iter([corpus])
            )
        ),
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(a, b)


# ------------------------------------------------------- semantic window
def _sem_reference(df: pd.DataFrame, window, tau):
    """Direct per-row reference: best (cos, -pred) over same-cluster
    predecessors within `window` rows, sequential-fold cosines."""
    m = np.vstack(df["v"].values)
    ids = df["vec_id"].to_numpy()
    cl = df["cluster"].to_numpy()
    n, dim = m.shape
    n2 = np.zeros(n)
    for i in range(dim):
        n2 += m[:, i] * m[:, i]
    nrm = np.sqrt(n2)
    out = []
    for a in range(n):
        best = None
        for b in range(max(0, a - window), a):
            if cl[b] != cl[a]:
                continue
            d = 0.0
            for i in range(dim):
                d += m[a, i] * m[b, i]
            cos = np.round(d / (nrm[a] * nrm[b]), 6)
            if cos < tau:
                continue
            key = (cos, -ids[b])
            if best is None or key > best[0]:
                best = (key, ids[b])
        if best is not None:
            out.append((ids[a], cl[a], best[1], best[0][0]))
    return out


def test_semantic_window_matches_reference_any_batching():
    n = 90
    df = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "cluster": np.sort(RNG.integers(0, 4, n)),
            # low-dim + duplicates so plenty of pairs clear tau
            "v": [RNG.normal(size=4) for _ in range(n)],
        }
    )
    df.at[10, "v"] = df.at[8, "v"]  # exact dup inside the window
    ref = _sem_reference(df, window=5, tau=0.3)
    for nb in (1, 2, 3, 7, 90):
        fn = vector.semantic_window_fn(5, 0.3)
        parts = list(fn(iter(_split(df, nb))))
        got = (
            pd.concat(parts, ignore_index=True)
            .sort_values("vec_id")
            .itertuples(index=False, name=None)
        )
        assert list(got) == ref, f"batch split {nb} changed result"


def test_semantic_window_cluster_boundary_isolation():
    """Rows of different clusters inside the same window range never
    pair — including across an Arrow batch boundary."""
    base = RNG.normal(size=4)
    df = pd.DataFrame(
        {
            "vec_id": np.arange(6, dtype=np.int64),
            "cluster": np.array([0, 0, 0, 1, 1, 1]),
            "v": [base] * 6,  # identical vectors: cos=1 for every pair
        }
    )
    fn = vector.semantic_window_fn(4, 0.3)
    got = pd.concat(list(fn(iter(_split(df, 3)))), ignore_index=True)
    # first row of each cluster has no predecessor; others point inside
    assert got["vec_id"].tolist() == [1, 2, 4, 5]
    assert got["dup_of"].tolist() == [0, 0, 3, 3]


# ---------------------------------------------------------------------------
# multi_query_range_fn (radius search)


def _reference_range(df: pd.DataFrame, q: np.ndarray, qids, tau):
    """Sequential-fold cosine, rounded to 6, thresholded — the oracle's
    arithmetic, independent of the kernel's vectorized fold."""
    out = set()
    qn = [math.sqrt(math.fsum(x * x for x in row)) for row in q]
    for r in df.itertuples():
        v = np.asarray(r.v, dtype=np.float64)
        vn2 = 0.0
        for x in v:
            vn2 += x * x
        vn = math.sqrt(vn2)
        for j, qrow in enumerate(q):
            dot = 0.0
            for i in range(len(qrow)):
                dot += v[i] * qrow[i]
            cos = round(dot / (vn * qn[j]), 6)
            if cos >= tau:
                out.add((int(qids[j]), int(r.n_id), cos))
    return out


def test_range_search_matches_reference_any_batching():
    corpus = _corpus(300)
    q = RNG.normal(size=(4, 8))
    qids = np.array([0, 1, 2, 3])
    tau = 0.25
    for nsplit in (1, 3, 7, 299):
        fn = multi_query_range_fn(q, qids, tau)
        got = {
            (int(r.q_id), int(r.n_id), r.cosine)
            for r in _run(fn, _split(corpus, nsplit)).itertuples()
        }
        # set equality on (q, n); cosines compared bit-exact below
        assert {(a, b) for a, b, _ in got} == {
            (a, b) for a, b, _ in _reference_range(corpus, q, qids, tau)
        }, f"nsplit={nsplit}"


def test_range_search_cosines_bit_identical_across_batch_sizes():
    corpus = _corpus(128)
    q = RNG.normal(size=(2, 8))
    qids = np.array([10, 11])
    a = _run(multi_query_range_fn(q, qids, 0.0), [corpus])
    b = _run(multi_query_range_fn(q, qids, 0.0), _split(corpus, 17))
    am = {(r.q_id, r.n_id): r.cosine for r in a.itertuples()}
    bm = {(r.q_id, r.n_id): r.cosine for r in b.itertuples()}
    assert am == bm  # exact float equality


def test_range_search_empty_below_threshold():
    corpus = _corpus(50)
    q = RNG.normal(size=(1, 8))
    fn = multi_query_range_fn(q, np.array([0]), 1.1)  # cosine can't exceed 1
    assert len(_run(fn, [corpus])) == 0


def test_vector_module_imports_without_a_session():
    """Python workers unpickle the shipped kernels by importing this
    module, with no SparkContext: the import must not need one."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    proc = subprocess.run(
        [sys.executable, "-c", "import iceberg_query_engine_spark.functions.vector"],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
