"""Vectorized embedding math: Arrow-batched numpy kernels.

Spark's higher-order functions (zip_with/aggregate) evaluate lambdas
interpreted, per element — fine for small arrays, ~100µs per 64-dim
cosine. For similarity search over millions of pairs that's the
bottleneck, so the hot path is a pandas UDF: Arrow hands the batch to
numpy, the dot products run as one BLAS-backed matmul-like operation
(~100× faster), exactly the "vectorized Pandas UDF" escape hatch the
reference's COSINE_SIMILARITY surface maps to at scale
(/root/reference/src/planner/logical_expr.rs:327-328).

Numerical note: numpy reduces with pairwise summation while the
interpreted fold is sequential; results agree to ~1e-14 relative,
so oracle comparisons round cosines to 6 decimals (already the suite
convention).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("double")
def cosine_similarity(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched cosine similarity between two array<numeric> columns."""
    ma = np.vstack([np.asarray(x, dtype=np.float64) for x in a])
    mb = np.vstack([np.asarray(x, dtype=np.float64) for x in b])
    dots = np.einsum("ij,ij->i", ma, mb)
    na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
    nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
    return pd.Series(dots / (na * nb))


def nearest_centroid_udf(centroid_vecs: np.ndarray, centroid_ids: np.ndarray):
    """Factory: pandas UDF mapping a vector column to its nearest
    centroid `struct<bucket bigint, c_cos double>` (argmax rounded
    cosine, tie → lowest centroid id).

    The K×dim centroid matrix is captured in the UDF closure (collected
    once — K centroids are a few KB at any corpus size), so assignment
    is ONE Arrow pass over the corpus: each vector crosses the channel
    once and meets all K centroids inside one vectorized numpy kernel.
    The previous shape — broadcast-join the centroid table then a
    pairwise cosine UDF — pushed n×K (vector, centroid) pairs through
    Arrow: ~160 GB of duplicated vectors at 5M docs × K=32, measured
    221 s vs ~20 s for this kernel at the same scale (r5 sf100 sweep).

    Determinism: the dot/norm sums accumulate dimension-by-dimension in
    strict left-to-right order — bit-identical to a sequential fold
    (DuckDB's `list_aggregate(.., 'sum')`, Spark's `F.aggregate`) and
    independent of Arrow batch size. A BLAS matmul is NOT: its blocked
    summation order varies with the batch's row count, which moved
    borderline cosines across the round(·,6) boundary and flipped
    downstream aggregates between runs (caught by the sim_kmeans
    oracle). The per-dimension loop is 64 vectorized (n×K) FMAs — same
    asymptotics as the matmul, no channel duplication.

    Tie semantics match the DuckDB oracle: rows are rounded to 6
    decimals first; np.argmax returns the FIRST maximum and the
    centroid matrix is ordered by ascending id → lowest id wins ties.
    """
    c = np.ascontiguousarray(centroid_vecs, dtype=np.float64)
    ids = np.asarray(centroid_ids, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    c, ids = c[order], ids[order]
    k, dim = c.shape
    cn2 = np.zeros(k)
    for i in range(dim):  # sequential fold, same order as the oracle
        cn2 += c[:, i] * c[:, i]
    cn = np.sqrt(cn2)

    @pandas_udf("struct<bucket: bigint, c_cos: double>")
    def nearest(v: pd.Series) -> pd.DataFrame:
        m = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        n = m.shape[0]
        dots = np.zeros((n, k))
        vn2 = np.zeros(n)
        for i in range(dim):  # strict left-to-right accumulation
            col = m[:, i]
            dots += col[:, None] * c[None, :, i]
            vn2 += col * col
        cos = np.round(dots / (np.sqrt(vn2)[:, None] * cn[None, :]), 6)
        idx = np.argmax(cos, axis=1)  # first max = lowest id on ties
        return pd.DataFrame(
            {"bucket": ids[idx], "c_cos": cos[np.arange(len(idx)), idx]}
        )

    return nearest


def _seq_sq_norms(m: np.ndarray) -> np.ndarray:
    """Row squared-norms accumulated dimension-by-dimension — the same
    strict left-to-right fold order as the DuckDB / F.aggregate oracle
    (see nearest_centroid_udf's determinism note)."""
    n2 = np.zeros(m.shape[0])
    for i in range(m.shape[1]):
        n2 += m[:, i] * m[:, i]
    return n2


def multi_query_topk_fn(
    query_vecs: np.ndarray,
    query_ids: np.ndarray,
    k: int,
    probe_buckets: dict[int, set[int]] | None = None,
):
    """Factory: a mapInPandas function computing each partition's exact
    per-query cosine top-k against the (tiny, closure-captured) query
    matrix. Input rows `(n_id bigint, v array<double>[, bucket])`;
    output rows `(q_id bigint, n_id bigint, cosine double)` — at most
    Q×k rows PER PARTITION, so the downstream exact top-k merge runs
    over partitions×Q×k candidate rows instead of the full n×Q score
    stream.

    This is the two-level top-k every distributed engine uses (local
    heap per morsel, global merge), expressed as mapInPandas + a final
    window. vs the previous broadcast-join shape it fixes BOTH scale
    problems at once: the Arrow channel carries each corpus vector once
    (not once per query — ~51 GB of duplicated 64-double arrays at 5M
    docs × 10 recall queries), and the shuffle carries Q×k candidates
    per partition (not n×Q scored rows).

    Partial top-k selection is exact: every global top-k row is its
    partition's top-≤k row for that query, so selecting k per (partition,
    query) then re-ranking loses nothing. Ordering (cosine DESC, n_id
    ASC) is applied identically in both levels via np.lexsort; cosines
    are rounded to 6 decimals BEFORE selection with the same strict
    per-dimension accumulation as nearest_centroid_udf, so values are
    bit-identical to the sequential-fold oracle and independent of both
    Arrow batch size and partitioning.

    `probe_buckets` (optional) masks candidates per query to a set of
    LSH buckets: rows arrive with a third `bucket` column and query j
    only scores rows whose bucket ∈ probe_buckets[j] — the multi-probe
    SRP candidate rule evaluated inside the kernel instead of a
    bucket-equality join that duplicates vectors per matching probe.
    """
    q = np.ascontiguousarray(query_vecs, dtype=np.float64)
    qids = np.asarray(query_ids, dtype=np.int64)
    order = np.argsort(qids, kind="stable")
    q, qids = q[order], qids[order]
    nq, dim = q.shape
    qn = np.sqrt(_seq_sq_norms(q))
    probes = None
    probe_arrs = None
    if probe_buckets is not None:
        probes = [probe_buckets[int(i)] for i in qids]
        probe_arrs = [np.fromiter(s, np.int64, len(s)) for s in probes]

    def topk(batches):
        cand_cos = [[] for _ in range(nq)]
        cand_id = [[] for _ in range(nq)]
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            ids = pdf["n_id"].to_numpy(dtype=np.int64)
            n = m.shape[0]
            # norm fold inlined (not _seq_sq_norms): any module-level
            # reference makes cloudpickle ship this function BY MODULE,
            # and importing this module in a worker re-runs the
            # module-level @pandas_udf decorators, which need an active
            # SparkContext the worker doesn't have.
            vn2 = np.zeros(n)
            for i in range(dim):
                vn2 += m[:, i] * m[:, i]
            vn = np.sqrt(vn2)
            if probes is None:
                dots = np.zeros((n, nq))
                for i in range(dim):  # strict left-to-right accumulation
                    dots += m[:, i][:, None] * q[None, :, i]
                cos_all = np.round(dots / (vn[:, None] * qn[None, :]), 6)
            else:
                buckets = pdf["bucket"].to_numpy(dtype=np.int64)
            for j in range(nq):
                if probes is None:
                    cj, ij = cos_all[:, j], ids
                else:
                    # mask BEFORE the fold: only candidate rows (bucket
                    # in the query's probe set) pay the dot-product cost
                    mask = np.isin(buckets, probe_arrs[j])
                    if not mask.any():
                        continue
                    mm, ij = m[mask], ids[mask]
                    dj = np.zeros(mm.shape[0])
                    for i in range(dim):  # same strict fold, subset rows
                        dj += mm[:, i] * q[j, i]
                    cj = np.round(dj / (vn[mask] * qn[j]), 6)
                sel = np.lexsort((ij, -cj))[:k]  # cosine DESC, n_id ASC
                cand_cos[j].append(cj[sel])
                cand_id[j].append(ij[sel])
        out_q, out_id, out_cos = [], [], []
        for j in range(nq):
            if not cand_id[j]:
                continue
            cc = np.concatenate(cand_cos[j])
            ci = np.concatenate(cand_id[j])
            sel = np.lexsort((ci, -cc))[:k]
            out_q.append(np.full(len(sel), qids[j]))
            out_id.append(ci[sel])
            out_cos.append(cc[sel])
        if out_q:
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "n_id": np.concatenate(out_id),
                    "cosine": np.concatenate(out_cos),
                }
            )

    return topk


def multi_query_range_fn(query_vecs: np.ndarray, query_ids: np.ndarray, threshold: float):
    """Factory: a mapInPandas function emitting every (q_id, n_id,
    cosine) pair with cosine ≥ threshold — RADIUS search, the dual of
    multi_query_topk_fn's top-k. Same one-Arrow-pass shape (each corpus
    vector crosses the channel once, scored against the closure-held
    query matrix) and the same strict left-to-right per-dimension fold
    + round-to-6-BEFORE-compare, so the inclusion decision is
    bit-identical to the sequential-fold oracle and independent of
    Arrow batch size. Output is match-sized (selectivity-bounded), not
    corpus-sized — the filter runs inside the kernel.
    """
    q = np.ascontiguousarray(query_vecs, dtype=np.float64)
    qids = np.asarray(query_ids, dtype=np.int64)
    order = np.argsort(qids, kind="stable")
    q, qids = q[order], qids[order]
    nq, dim = q.shape
    qn = np.sqrt(_seq_sq_norms(q))

    def rng(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            ids = pdf["n_id"].to_numpy(dtype=np.int64)
            n = m.shape[0]
            vn2 = np.zeros(n)  # inlined fold — see multi_query_topk_fn note
            for i in range(dim):
                vn2 += m[:, i] * m[:, i]
            vn = np.sqrt(vn2)
            dots = np.zeros((n, nq))
            for i in range(dim):  # strict left-to-right accumulation
                dots += m[:, i][:, None] * q[None, :, i]
            cos_all = np.round(dots / (vn[:, None] * qn[None, :]), 6)
            rows, cols = np.nonzero(cos_all >= threshold)
            if len(rows):
                yield pd.DataFrame(
                    {
                        "q_id": qids[cols],
                        "n_id": ids[rows],
                        "cosine": cos_all[rows, cols],
                    }
                )

    return rng


def pq_adc_topk_fn(
    codeword_vecs: np.ndarray,
    codeword_ids: np.ndarray,
    query_vecs: np.ndarray,
    query_ids: np.ndarray,
    k: int,
    n_sub: int,
    normalize: bool = False,
):
    """Factory: a mapInPandas function running an IVF-PQ-style
    Asymmetric Distance Computation scan in one Arrow pass.

    Product quantization splits the `dim`-wide vector into `n_sub`
    subspaces and replaces each sub-vector with the id of its nearest
    codeword (argmin rounded squared L2, tie → lowest codeword id) —
    at 100 TB this is THE storage lever for ANN: n_sub bytes per
    vector (64 bytes → 8, here) instead of dim floats, so the scan
    reads a 32× smaller corpus. Scoring never reconstructs vectors:
    each query precomputes a (n_sub × K) lookup table of
    sub-dot-products against the codebook, and a vector's approximate
    inner product is n_sub table lookups (ADC, Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search").

    This kernel fuses quantize + ADC + per-partition top-k: the
    codebook and query LUTs ride in the closure (K codewords and Q
    queries are KBs at any corpus size), each corpus vector crosses
    the Arrow channel ONCE, and only Q×k candidates per partition
    reach the downstream merge window — the same two-level shape as
    multi_query_topk_fn. A materialized-codes variant would write the
    uint8 code table once and re-scan it per query batch; fusing keeps
    the driver query single-pass while exercising identical math.

    Determinism (oracle parity): sub-distances and LUT entries
    accumulate dimension-by-dimension in strict left-to-right order
    (sequential-fold parity with DuckDB's list_aggregate), distances
    are rounded to 6 decimals BEFORE argmin with codewords ordered by
    ascending id (first-min = lowest id on ties), and ADC sums
    accumulate subspace-by-subspace with the final score rounded to 6
    before (score DESC, n_id ASC) selection — independent of Arrow
    batch size and partitioning.

    `normalize=True` L2-normalizes codewords, queries, AND each corpus
    vector (inside the kernel, same sequential norm fold) before
    quantization — then the ADC score approximates COSINE, making the
    PQ index comparable against an exact-cosine ground truth (the
    recall gate). Division and sqrt are IEEE-correctly-rounded, so
    normalized values match the oracle's x / sqrt(sum) exactly.
    """
    C = np.ascontiguousarray(codeword_vecs, dtype=np.float64)
    cids = np.asarray(codeword_ids, dtype=np.int64)
    order = np.argsort(cids, kind="stable")
    C = C[order]
    q = np.ascontiguousarray(query_vecs, dtype=np.float64)
    qids = np.asarray(query_ids, dtype=np.int64)
    qorder = np.argsort(qids, kind="stable")
    q, qids = q[qorder], qids[qorder]
    if normalize:
        C = C / np.sqrt(_seq_sq_norms(C))[:, None]
        q = q / np.sqrt(_seq_sq_norms(q))[:, None]
    ncw, dim = C.shape
    nq = q.shape[0]
    sub = dim // n_sub
    assert sub * n_sub == dim, "dim must divide evenly into subspaces"
    # per-subspace LUT: lut[mi][j, c] = q_j[sub mi] · C_c[sub mi]
    lut = np.zeros((n_sub, nq, ncw))
    for mi in range(n_sub):
        for i in range(sub):
            d = mi * sub + i
            lut[mi] += q[:, d][:, None] * C[None, :, d]

    def topk(batches):
        cand_adc = [[] for _ in range(nq)]
        cand_id = [[] for _ in range(nq)]
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            ids = pdf["n_id"].to_numpy(dtype=np.int64)
            n = m.shape[0]
            if normalize:
                # inline seq fold (see multi_query_topk_fn on why no
                # module-level helper reference inside the closure)
                vn2 = np.zeros(n)
                for i in range(dim):
                    vn2 += m[:, i] * m[:, i]
                m = m / np.sqrt(vn2)[:, None]
            adc = np.zeros((n, nq))
            for mi in range(n_sub):
                dist = np.zeros((n, ncw))
                for i in range(sub):  # strict left-to-right fold
                    d = mi * sub + i
                    diff = m[:, d][:, None] - C[None, :, d]
                    dist += diff * diff
                code = np.argmin(np.round(dist, 6), axis=1)
                adc += lut[mi][:, code].T
            adc = np.round(adc, 6)
            for j in range(nq):
                sel = np.lexsort((ids, -adc[:, j]))[:k]
                cand_adc[j].append(adc[sel, j])
                cand_id[j].append(ids[sel])
        out_q, out_id, out_adc = [], [], []
        for j in range(nq):
            if not cand_id[j]:
                continue
            ca = np.concatenate(cand_adc[j])
            ci = np.concatenate(cand_id[j])
            sel = np.lexsort((ci, -ca))[:k]
            out_q.append(np.full(len(sel), qids[j]))
            out_id.append(ci[sel])
            out_adc.append(ca[sel])
        if out_q:
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "n_id": np.concatenate(out_id),
                    "adc": np.concatenate(out_adc),
                }
            )

    return topk


def semantic_window_fn(window: int, tau: float):
    """Factory: a mapInPandas function for SemDeDup's sorted-
    neighborhood pass. Input rows arrive repartitioned by cluster and
    sorted (cluster, c_cos DESC, vec_id); each row is compared against
    its `window` predecessors IN THE SAME CLUSTER and emitted once if
    its best predecessor cosine >= tau, carrying that predecessor's id
    (tie -> lowest id, i.e. lexmax of (cosine, -pred_id)).

    Replaces the explode(collect_list(window)) + pairwise-cosine-UDF
    shape, which duplicated every 64-double vector `window`+1 times
    across the Arrow channel (~41 GB at 5M docs x W=8) and needed a
    groupBy to re-collapse pairs. Here each vector crosses Arrow ONCE;
    the W comparisons are W vectorized shifted-dot passes inside numpy
    (strict per-dimension fold, sequential-fold oracle parity), and the
    kernel emits at most one row per dropped doc — no pair stream, no
    re-aggregation shuffle. Rolling state (last W rows) carries across
    Arrow batches, so results are independent of batch size.
    """

    def run(batches):
        carry = None  # (ids, clusters, matrix) of the last `window` rows
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cl = pdf["cluster"].to_numpy(dtype=np.int64)
            m = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            c = 0
            if carry is not None:
                pids, pcl, pm = carry
                c = len(pids)
                ids = np.concatenate([pids, ids])
                cl = np.concatenate([pcl, cl])
                m = np.vstack([pm, m])
            n, dim = m.shape
            # strict left-to-right norm fold (oracle parity; see
            # multi_query_topk_fn on why no module-level helper here)
            n2 = np.zeros(n)
            for i in range(dim):
                n2 += m[:, i] * m[:, i]
            nrm = np.sqrt(n2)
            best_cos = np.full(n, -np.inf)
            best_nid = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
            for off in range(1, window + 1):
                if off >= n:
                    break
                dots = np.zeros(n - off)
                for i in range(dim):  # strict fold, vectorized rows
                    dots += m[off:, i] * m[:-off, i]
                cos = np.round(dots / (nrm[off:] * nrm[:-off]), 6)
                ok = (cl[off:] == cl[:-off]) & (cos >= tau)
                neg = -ids[:-off]
                upd = ok & (
                    (cos > best_cos[off:])
                    | ((cos == best_cos[off:]) & (neg > best_nid[off:]))
                )
                best_cos[off:][upd] = cos[upd]
                best_nid[off:][upd] = neg[upd]
            emit = np.isfinite(best_cos)
            emit[:c] = False  # carry rows were emitted by the prior batch
            if emit.any():
                yield pd.DataFrame(
                    {
                        "vec_id": ids[emit],
                        "cluster": cl[emit],
                        "dup_of": -best_nid[emit],
                        "cosine": best_cos[emit],
                    }
                )
            keep = min(window, n)
            carry = (ids[-keep:], cl[-keep:], m[-keep:])

    return run


def knn_join_fn(k: int, _chunk_budget: int = 768 << 10):
    """Factory: a cogroup-applyInPandas function computing the exact
    per-left-row cosine top-k against one right-side block — the inner
    kernel of the blocked k-NN JOIN (both sides large, neither
    broadcastable). The driver-side grid replicates left rows across
    right blocks and vice versa; each (lb, rb) task sees N/L left rows
    and M/R right rows, computes its partial top-k, and a final window
    merges L×R×k candidates per left row.

    Group input: left ``(l_id bigint, lv array<double>)``, right
    ``(n_id bigint, v array<double>)``. Output ``(l_id, n_id,
    cosine)`` — at most k rows per left row per group.

    Determinism/oracle parity: strict left-to-right per-dimension
    accumulation for dots and norms, cosines rounded to 6 decimals
    BEFORE selection, ordering (cosine DESC, n_id ASC) — identical to
    multi_query_topk_fn, so results are bit-identical to the DuckDB
    list-fold oracle and independent of grid shape and batching.
    Self-pairs (l_id == n_id) are excluded inside the kernel. The dot
    matrix is evaluated in left-row chunks so peak memory stays
    ~32 MB regardless of block sizes."""

    def run(left_pdf, right_pdf):
        if not len(left_pdf) or not len(right_pdf):
            return pd.DataFrame({"l_id": [], "n_id": [], "cosine": []})
        lm = np.vstack([np.asarray(x, dtype=np.float64) for x in left_pdf["lv"]])
        rm = np.vstack([np.asarray(x, dtype=np.float64) for x in right_pdf["v"]])
        lids = left_pdf["l_id"].to_numpy(dtype=np.int64)
        rids = right_pdf["n_id"].to_numpy(dtype=np.int64)
        nl, dim = lm.shape
        nr = rm.shape[0]
        # strict per-dimension folds (inlined: see multi_query_topk_fn
        # on why module-level refs are off-limits in shipped closures)
        ln2 = np.zeros(nl)
        rn2 = np.zeros(nr)
        for i in range(dim):
            ln2 += lm[:, i] * lm[:, i]
            rn2 += rm[:, i] * rm[:, i]
        ln, rn = np.sqrt(ln2), np.sqrt(rn2)
        # transposed copies make each dimension's outer product stream
        # over CONTIGUOUS vectors, and the small chunk keeps the
        # accumulator + temp L2-resident across the 64-dim loop — the
        # naive (chunk=32 MB, strided columns) loop is bandwidth-bound
        # at ~0.3 GFLOP/s/core; this shape measured 4.7× faster with
        # the identical strict left-to-right summation order.
        lmT = np.ascontiguousarray(lm.T)
        rmT = np.ascontiguousarray(rm.T)
        chunk = max(1, int(_chunk_budget // max(nr * 8 * 2, 1)))
        out_l, out_n, out_c = [], [], []
        tmp = np.empty((min(chunk, nl), nr))
        for s in range(0, nl, chunk):
            e = min(s + chunk, nl)
            dots = np.zeros((e - s, nr))
            t = tmp[: e - s]
            for i in range(dim):  # strict left-to-right accumulation
                np.multiply(lmT[i, s:e][:, None], rmT[i][None, :], out=t)
                dots += t
            cos = np.round(dots / (ln[s:e, None] * rn[None, :]), 6)
            cos[lids[s:e, None] == rids[None, :]] = -np.inf  # no self-match
            # top-k selection: a full per-row lexsort is O(nr log nr)
            # per left row and dominated the 50k-point profile. Instead
            # take each row's kth-largest value via one vectorized
            # partition, then lexsort only the >= kth candidates — the
            # >= (not >) keeps every boundary TIE in play so the n_id
            # tiebreak stays exact.
            if nr > k:
                kth_vals = np.partition(cos, nr - k, axis=1)[:, nr - k]
            else:
                kth_vals = np.full(e - s, -np.inf)
            for j in range(e - s):
                cj = cos[j]
                cand = np.flatnonzero(cj >= kth_vals[j])
                # cosine DESC, n_id ASC among the candidate set only
                sel = cand[np.lexsort((rids[cand], -cj[cand]))[:k]]
                sel = sel[np.isfinite(cj[sel])]
                if len(sel):
                    out_l.append(np.full(len(sel), lids[s + j]))
                    out_n.append(rids[sel])
                    out_c.append(cj[sel])
        if not out_l:
            return pd.DataFrame({"l_id": [], "n_id": [], "cosine": []})
        return pd.DataFrame(
            {
                "l_id": np.concatenate(out_l),
                "n_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c),
            }
        )

    return run


def top_probe_centroids_udf(centroid_vecs: np.ndarray, centroid_ids: np.ndarray, p: int):
    """Factory: pandas UDF mapping a vector to its P nearest centroid
    ids (`array<bigint>`, rounded-cosine DESC then c_id ASC — the same
    ordering contract as nearest_centroid_udf, whose element [0] this
    generalizes). The K×dim centroid matrix rides in the closure; one
    Arrow pass, the multi-probe assignment of IVF retrieval."""
    c = np.ascontiguousarray(centroid_vecs, dtype=np.float64)
    ids = np.asarray(centroid_ids, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    c, ids = c[order], ids[order]
    k, dim = c.shape
    cn2 = np.zeros(k)
    for i in range(dim):  # sequential fold, same order as the oracle
        cn2 += c[:, i] * c[:, i]
    cn = np.sqrt(cn2)
    take = min(p, k)

    @pandas_udf("array<bigint>")
    def probes(v: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        n = m.shape[0]
        dots = np.zeros((n, k))
        vn2 = np.zeros(n)
        for i in range(dim):  # strict left-to-right accumulation
            col = m[:, i]
            dots += col[:, None] * c[None, :, i]
            vn2 += col * col
        cos = np.round(dots / (np.sqrt(vn2)[:, None] * cn[None, :]), 6)
        out = []
        for j in range(n):
            sel = np.lexsort((ids, -cos[j]))[:take]
            out.append(ids[sel])
        return pd.Series(out)

    return probes
