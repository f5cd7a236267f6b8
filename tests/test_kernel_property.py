"""Property-based tests for the Arrow retrieval/dedup kernels
(functions/vector.py): randomized corpora, batch splits, and
parameters must reproduce a brute-force sequential-fold reference
exactly — the invariant every DuckDB oracle relies on. Derandomized
+ fixed profile like test_property_oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from iceberg_query_engine_spark.functions import vector


def _split_at(df: pd.DataFrame, cuts: list[int]):
    bounds = [0] + sorted(set(c % (len(df) + 1) for c in cuts)) + [len(df)]
    return [df.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


@st.composite
def pq_case(draw):
    rng = np.random.default_rng(draw(st.integers(0, 2**16)))
    n = draw(st.integers(5, 60))
    n_sub = draw(st.sampled_from([1, 2, 4]))
    dim = n_sub * draw(st.sampled_from([2, 4]))
    ncw = draw(st.integers(2, 6))
    nq = draw(st.integers(1, 3))
    k = draw(st.integers(1, 8))
    cuts = draw(st.lists(st.integers(0, 60), max_size=3))
    dup = draw(st.booleans())
    corpus = pd.DataFrame(
        {
            "n_id": np.arange(100, 100 + n, dtype=np.int64),
            "v": [rng.normal(size=dim) for _ in range(n)],
        }
    )
    if dup and n >= 2:
        corpus.at[n - 1, "v"] = corpus.at[0, "v"]  # force an ADC tie
    C = np.vstack(corpus["v"].values[:ncw])
    cids = np.arange(ncw, dtype=np.int64)
    q = rng.normal(size=(nq, dim))
    qids = np.arange(nq, dtype=np.int64)
    return corpus, C, cids, q, qids, k, n_sub, cuts


@settings(
    max_examples=40,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=pq_case())
def test_pq_kernel_equals_bruteforce_reference(case):
    corpus, C, cids, q, qids, k, n_sub, cuts = case
    m = np.vstack(corpus["v"].values)
    ids = corpus["n_id"].to_numpy()
    dim = m.shape[1]
    sub = dim // n_sub
    adc = np.zeros((len(corpus), len(qids)))
    for mi in range(n_sub):
        dist = np.zeros((len(corpus), C.shape[0]))
        for i in range(sub):
            d = mi * sub + i
            diff = m[:, d][:, None] - C[None, :, d]
            dist += diff * diff
        code = np.argmin(np.round(dist, 6), axis=1)
        lut = np.zeros((len(qids), C.shape[0]))
        for i in range(sub):
            d = mi * sub + i
            lut += q[:, d][:, None] * C[None, :, d]
        adc += lut[:, code].T
    adc = np.round(adc, 6)
    expect = {}
    for j, qid in enumerate(qids):
        sel = np.lexsort((ids, -adc[:, j]))[:k]
        expect[int(qid)] = list(zip(ids[sel], adc[sel, j]))

    fn = vector.pq_adc_topk_fn(C, cids, q, qids, k, n_sub)
    parts = list(fn(iter(_split_at(corpus, cuts))))
    got_df = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
        {"q_id": [], "n_id": [], "adc": []}
    )
    got = {}
    for qid, g in got_df.groupby("q_id"):
        sel = np.lexsort((g["n_id"].to_numpy(), -g["adc"].to_numpy()))[:k]
        got[int(qid)] = list(zip(g["n_id"].to_numpy()[sel], g["adc"].to_numpy()[sel]))
    assert got == expect


@st.composite
def sem_case(draw):
    rng = np.random.default_rng(draw(st.integers(0, 2**16)))
    n = draw(st.integers(2, 80))
    dim = draw(st.sampled_from([2, 4, 8]))
    window = draw(st.integers(1, 6))
    tau = draw(st.sampled_from([0.0, 0.3, 0.9]))
    n_clusters = draw(st.integers(1, 4))
    cuts = draw(st.lists(st.integers(0, 80), max_size=4))
    ndup = draw(st.integers(0, 3))
    df = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "cluster": np.sort(rng.integers(0, n_clusters, n)),
            "v": [rng.normal(size=dim) for _ in range(n)],
        }
    )
    for _ in range(ndup):  # exact dups → guaranteed tau hits + ties
        a, b = rng.integers(0, n, 2)
        df.at[int(a), "v"] = df.at[int(b), "v"]
    return df, window, tau, cuts


@settings(
    max_examples=40,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=sem_case())
def test_semantic_kernel_equals_bruteforce_reference(case):
    df, window, tau, cuts = case
    m = np.vstack(df["v"].values)
    ids = df["vec_id"].to_numpy()
    cl = df["cluster"].to_numpy()
    n, dim = m.shape
    n2 = np.zeros(n)
    for i in range(dim):
        n2 += m[:, i] * m[:, i]
    nrm = np.sqrt(n2)
    expect = []
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
            expect.append((ids[a], cl[a], best[1], best[0][0]))

    fn = vector.semantic_window_fn(window, tau)
    parts = list(fn(iter(_split_at(df, cuts))))
    got = (
        pd.concat(parts, ignore_index=True).sort_values("vec_id")
        if parts
        else pd.DataFrame({"vec_id": [], "cluster": [], "dup_of": [], "cosine": []})
    )
    assert list(got.itertuples(index=False, name=None)) == expect


@st.composite
def knn_case(draw):
    rng = np.random.default_rng(draw(st.integers(0, 2**16)))
    nl = draw(st.integers(1, 60))
    nr = draw(st.integers(1, 60))
    dim = draw(st.sampled_from([2, 3, 8]))
    k = draw(st.integers(1, 5))
    # overlapping id ranges exercise self-pair exclusion; duplicated
    # vectors force rounded-cosine ties (the n_id tiebreak path)
    lids = rng.choice(100, nl, replace=False).astype(np.int64)
    rids = rng.choice(100, nr, replace=False).astype(np.int64)
    lv = [rng.normal(size=dim) for _ in range(nl)]
    rv = [rng.normal(size=dim) for _ in range(nr)]
    for _ in range(draw(st.integers(0, 4))):
        a, b = rng.integers(0, nr, 2)
        rv[int(a)] = rv[int(b)]
    left = pd.DataFrame({"l_id": lids, "lv": lv})
    right = pd.DataFrame({"n_id": rids, "v": rv})
    budget = draw(st.sampled_from([1, 256, 768 << 10]))  # force multi-chunk
    return left, right, k, budget


@settings(
    max_examples=60,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=knn_case())
def test_knn_join_kernel_equals_bruteforce_reference(case):
    left, right, k, budget = case
    lm = np.vstack(left["lv"].values)
    rm = np.vstack(right["v"].values)
    lids = left["l_id"].to_numpy()
    rids = right["n_id"].to_numpy()
    dim = lm.shape[1]
    ln2 = np.zeros(len(lids))
    rn2 = np.zeros(len(rids))
    for i in range(dim):  # sequential fold, the oracle's order
        ln2 += lm[:, i] * lm[:, i]
        rn2 += rm[:, i] * rm[:, i]
    dots = np.zeros((len(lids), len(rids)))
    for i in range(dim):
        dots += lm[:, i][:, None] * rm[None, :, i]
    cos = np.round(dots / (np.sqrt(ln2)[:, None] * np.sqrt(rn2)[None, :]), 6)
    # the kernels' shared fold primitives, in both operand orientations
    # and at the drawn chunk budget, are bit-identical to this reference.
    # 2^-30 "norms" scale the dots exactly and lift them past 1e15, so
    # the 6-dp rounding cannot hide a change of summation order.
    assert vector._seq_dots(lm, lm).tobytes() == ln2.tobytes()
    assert vector._seq_dots(rm, rm).tobytes() == rn2.tobytes()
    ul, ur = np.full(len(lids), 2.0**-30), np.full(len(rids), 2.0**-30)
    raw = np.round(dots / (ul[:, None] * ur[None, :]), 6)
    for a, an, b, bn, ref in (
        (lm, np.sqrt(ln2), rm, np.sqrt(rn2), cos),
        (rm, np.sqrt(rn2), lm, np.sqrt(ln2), cos.T),
        (lm, ul, rm, ur, raw),
        (rm, ur, lm, ul, raw.T),
    ):
        blocks = list(vector._cos_gram(a, an, b, bn, budget))
        assert [s for s, _ in blocks] == list(range(0, len(a), len(blocks[0][1])))
        assert np.vstack([blk for _, blk in blocks]).tobytes() == ref.tobytes()
    cos[lids[:, None] == rids[None, :]] = -np.inf
    expect = {}
    for j, lid in enumerate(lids):
        sel = np.lexsort((rids, -cos[j]))[:k]
        sel = sel[np.isfinite(cos[j][sel])]
        if len(sel):
            expect[int(lid)] = list(zip(rids[sel], cos[j][sel]))

    got_df = vector.knn_join_fn(k, _chunk_budget=budget)(left, right)
    got = {}
    for lid, g in got_df.groupby("l_id"):
        sel = np.lexsort((g["n_id"].to_numpy(), -g["cosine"].to_numpy()))
        got[int(lid)] = list(
            zip(g["n_id"].to_numpy()[sel], g["cosine"].to_numpy()[sel])
        )
    assert got == expect
