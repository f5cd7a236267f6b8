"""Vectorized embedding math: Arrow-batched numpy kernels.

Spark's higher-order functions (zip_with/aggregate) evaluate lambdas
interpreted, per element — ~100µs per 64-dim cosine. The kernels here
take a whole Arrow batch as one numpy matrix and score it against the
small side (queries, centroids, a codebook, a grid cell's right block)
held in the factory's closure, so each corpus vector crosses the Arrow
channel once: the "vectorized Pandas UDF" form of the reference's
COSINE_SIMILARITY surface (src/planner/logical_expr.rs:327-328).

The contract. Every kernel except `cosine_similarity` scores under one
contract, which makes its results bit-identical to the sequential-fold
oracles (DuckDB's `list_aggregate(.., 'sum')`, Spark's `F.aggregate`)
and independent of Arrow batch size, partitioning and grid shape:

- Dots and squared norms are a strict left-to-right per-dimension
  fold: `_seq_dots` row by row, `_cos_gram` for a block. A BLAS matmul
  is not: its blocked summation order varies with the batch's row
  count, which moved borderline cosines across the round(·,6) boundary
  and flipped downstream aggregates between runs (caught by the
  sim_kmeans oracle).
- Every score is rounded to 6 decimals before any compare or select.
- Selection orders by (score DESC, id ASC). Closure matrices are sorted
  by ascending id (`_by_id`), so argmax/argmin's first hit is the
  lowest id.

Shipped closures call the module-level helpers below, so cloudpickle
ships them by reference and each Python worker imports this module.
It must therefore import without a SparkContext: `cosine_similarity`
declares `DoubleType()`, not the DDL string "double", whose parse needs
a live context.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

_CHUNK_BUDGET = 768 << 10  # bytes of one Gram chunk's accumulator + temp


def _mat(series: pd.Series) -> np.ndarray:
    """Decode an Arrow `array<double>` column into a row-major matrix."""
    return np.vstack([np.asarray(x, dtype=np.float64) for x in series])


def _by_id(vecs: np.ndarray, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """A closure matrix and its ids, stably sorted by ascending id."""
    m = np.ascontiguousarray(vecs, dtype=np.float64)
    ids = np.asarray(ids, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    return m[order], ids[order]


def _seq_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dots a[r]·b[r], folded dimension by dimension."""
    acc = np.zeros(a.shape[0])
    for i in range(a.shape[1]):
        acc += a[:, i] * b[:, i]
    return acc


def _cos_gram(a, an, b, bn, chunk_budget: int = _CHUNK_BUDGET):
    """Yield `(start, block)` row chunks of the rounded cosine Gram
    matrix, `block[r, c] = round(a[start+r]·b[c] / (an[start+r]·bn[c]), 6)`,
    with every dot folded dimension by dimension.

    Transposed copies make each dimension's outer product stream over
    contiguous vectors, and a chunk of `chunk_budget` bytes keeps the
    accumulator and its temp L2-resident across the dimension loop.
    The naive shape (one strided block) is bandwidth-bound at ~0.3
    GFLOP/s/core; this one measured 4.7× faster with the identical
    summation order, and peak memory stays ~chunk_budget whatever the
    block sizes."""
    aT = np.ascontiguousarray(a.T)
    bT = np.ascontiguousarray(b.T)
    na, nb = a.shape[0], b.shape[0]
    chunk = max(1, int(chunk_budget // max(nb * 8 * 2, 1)))
    tmp = np.empty((min(chunk, na), nb))
    for s in range(0, na, chunk):
        e = min(s + chunk, na)
        dots = np.zeros((e - s, nb))
        t = tmp[: e - s]
        for i in range(aT.shape[0]):
            np.multiply(aT[i, s:e][:, None], bT[i][None, :], out=t)
            dots += t
        yield s, np.round(dots / (an[s:e, None] * bn[None, :]), 6)


def _cos_matrix(a, an, b, bn) -> np.ndarray:
    """The whole `_cos_gram` matrix, for blocks whose width is small."""
    out = np.empty((a.shape[0], b.shape[0]))
    for s, block in _cos_gram(a, an, b, bn):
        out[s : s + len(block)] = block
    return out


def _two_level_topk(scored, qids: np.ndarray, k: int, score_col: str):
    """The local half and the per-partition merge of a two-level top-k.
    `scored` yields `(j, score, n_id)` per batch and query index j; each
    keeps its top-k, and one frame `(q_id, n_id, score_col)` with at
    most k rows per query is yielded once the batches are exhausted."""
    cand = [([], []) for _ in qids]
    for j, score, ids in scored:
        sel = np.lexsort((ids, -score))[:k]
        cand[j][0].append(score[sel])
        cand[j][1].append(ids[sel])
    out_q, out_id, out_s = [], [], []
    for j, (cs, ci) in enumerate(cand):
        if not ci:
            continue
        cs, ci = np.concatenate(cs), np.concatenate(ci)
        sel = np.lexsort((ci, -cs))[:k]
        out_q.append(np.full(len(sel), qids[j]))
        out_id.append(ci[sel])
        out_s.append(cs[sel])
    if out_q:
        yield pd.DataFrame(
            {
                "q_id": np.concatenate(out_q),
                "n_id": np.concatenate(out_id),
                score_col: np.concatenate(out_s),
            }
        )


@pandas_udf(DoubleType())
def cosine_similarity(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched cosine similarity between two array<numeric> columns.

    The one kernel outside the module's contract: `einsum` sums in
    numpy's own (SIMD) order, bitwise different from the strict fold on
    ~86% of random 64-d pairs. Its callers round to 6 decimals, after
    which 0 of 2M random pairs differ. This per-pair path keeps the
    faster body: ~1.4 ms per 10k pairs against ~15-27 ms for the fold."""
    ma, mb = _mat(a), _mat(b)
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
    """
    c, ids = _by_id(centroid_vecs, centroid_ids)
    cn = np.sqrt(_seq_dots(c, c))

    @pandas_udf("struct<bucket: bigint, c_cos: double>")
    def nearest(v: pd.Series) -> pd.DataFrame:
        m = _mat(v)
        cos = _cos_matrix(m, np.sqrt(_seq_dots(m, m)), c, cn)
        idx = np.argmax(cos, axis=1)  # first max = lowest id on ties
        return pd.DataFrame(
            {"bucket": ids[idx], "c_cos": cos[np.arange(len(idx)), idx]}
        )

    return nearest


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
    query) then re-ranking loses nothing.

    `probe_buckets` (optional) masks candidates per query to a set of
    LSH buckets: rows arrive with a third `bucket` column and query j
    only scores rows whose bucket ∈ probe_buckets[j] — the multi-probe
    SRP candidate rule evaluated inside the kernel instead of a
    bucket-equality join that duplicates vectors per matching probe.
    """
    q, qids = _by_id(query_vecs, query_ids)
    qn = np.sqrt(_seq_dots(q, q))
    probe_arrs = None
    if probe_buckets is not None:
        probe_arrs = [np.fromiter(probe_buckets[int(i)], np.int64) for i in qids]

    def scored(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = _mat(pdf["v"])
            ids = pdf["n_id"].to_numpy(dtype=np.int64)
            vn = np.sqrt(_seq_dots(m, m))
            if probe_arrs is None:
                cos = _cos_matrix(m, vn, q, qn)
                for j in range(len(qids)):
                    yield j, cos[:, j], ids
                continue
            buckets = pdf["bucket"].to_numpy(dtype=np.int64)
            for j, probe in enumerate(probe_arrs):
                # mask BEFORE the fold: only candidate rows (bucket in
                # the query's probe set) pay the dot-product cost
                mask = np.isin(buckets, probe)
                if mask.any():
                    qj = slice(j, j + 1)
                    cos = _cos_matrix(m[mask], vn[mask], q[qj], qn[qj])
                    yield j, cos[:, 0], ids[mask]

    def topk(batches):
        yield from _two_level_topk(scored(batches), qids, k, "cosine")

    return topk


def multi_query_range_fn(query_vecs: np.ndarray, query_ids: np.ndarray, threshold: float):
    """Factory: a mapInPandas function emitting every (q_id, n_id,
    cosine) pair with cosine ≥ threshold — RADIUS search, the dual of
    multi_query_topk_fn's top-k. Same one-Arrow-pass shape (each corpus
    vector crosses the channel once, scored against the closure-held
    query matrix). Output is match-sized (selectivity-bounded), not
    corpus-sized — the filter runs inside the kernel.
    """
    q, qids = _by_id(query_vecs, query_ids)
    qn = np.sqrt(_seq_dots(q, q))

    def rng(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = _mat(pdf["v"])
            ids = pdf["n_id"].to_numpy(dtype=np.int64)
            cos = _cos_matrix(m, np.sqrt(_seq_dots(m, m)), q, qn)
            rows, cols = np.nonzero(cos >= threshold)
            if len(rows):
                yield pd.DataFrame(
                    {
                        "q_id": qids[cols],
                        "n_id": ids[rows],
                        "cosine": cos[rows, cols],
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

    Under the module's contract, sub-distances and LUT entries fold
    per dimension, distances are rounded before the argmin, and ADC
    sums accumulate subspace by subspace before their final rounding.

    `normalize=True` L2-normalizes codewords, queries, AND each corpus
    vector before quantization — then the ADC score approximates
    COSINE, making the PQ index comparable against an exact-cosine
    ground truth (the recall gate). Division and sqrt are
    IEEE-correctly-rounded, so normalized values match the oracle's
    x / sqrt(sum) exactly.
    """
    C, _ = _by_id(codeword_vecs, codeword_ids)
    q, qids = _by_id(query_vecs, query_ids)
    if normalize:
        C = C / np.sqrt(_seq_dots(C, C))[:, None]
        q = q / np.sqrt(_seq_dots(q, q))[:, None]
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

    def scored(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = _mat(pdf["v"])
            ids = pdf["n_id"].to_numpy(dtype=np.int64)
            n = m.shape[0]
            if normalize:
                m = m / np.sqrt(_seq_dots(m, m))[:, None]
            adc = np.zeros((n, nq))
            for mi in range(n_sub):
                dist = np.zeros((n, ncw))
                for i in range(sub):
                    d = mi * sub + i
                    diff = m[:, d][:, None] - C[None, :, d]
                    dist += diff * diff
                code = np.argmin(np.round(dist, 6), axis=1)
                adc += lut[mi][:, code].T
            adc = np.round(adc, 6)
            for j in range(nq):
                yield j, adc[:, j], ids

    def topk(batches):
        yield from _two_level_topk(scored(batches), qids, k, "adc")

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
    the W comparisons are W vectorized shifted-dot passes inside numpy,
    and the kernel emits at most one row per dropped doc — no pair
    stream, no re-aggregation shuffle. Rolling state (last W rows)
    carries across Arrow batches, so results are independent of batch
    size.
    """

    def run(batches):
        carry = None  # (ids, clusters, matrix) of the last `window` rows
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cl = pdf["cluster"].to_numpy(dtype=np.int64)
            m = _mat(pdf["v"])
            c = 0
            if carry is not None:
                pids, pcl, pm = carry
                c = len(pids)
                ids = np.concatenate([pids, ids])
                cl = np.concatenate([pcl, cl])
                m = np.vstack([pm, m])
            n = m.shape[0]
            nrm = np.sqrt(_seq_dots(m, m))
            best_cos = np.full(n, -np.inf)
            best_nid = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
            for off in range(1, window + 1):
                if off >= n:
                    break
                dots = _seq_dots(m[off:], m[:-off])
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


def knn_join_fn(k: int, _chunk_budget: int = _CHUNK_BUDGET):
    """Factory: a cogroup-applyInPandas function computing the exact
    per-left-row cosine top-k against one right-side block — the inner
    kernel of the blocked k-NN JOIN (both sides large, neither
    broadcastable). The driver-side grid replicates left rows across
    right blocks and vice versa; each (lb, rb) task sees N/L left rows
    and M/R right rows, computes its partial top-k, and a final window
    merges L×R×k candidates per left row.

    Group input: left ``(l_id bigint, lv array<double>)``, right
    ``(n_id bigint, v array<double>)``. Output ``(l_id, n_id,
    cosine)`` — at most k rows per left row per group. Self-pairs
    (l_id == n_id) are excluded inside the kernel. The Gram block is
    consumed in `_cos_gram`'s left-row chunks, so peak memory stays
    ~`_chunk_budget` regardless of block sizes."""

    def run(left_pdf, right_pdf):
        if not len(left_pdf) or not len(right_pdf):
            return pd.DataFrame({"l_id": [], "n_id": [], "cosine": []})
        lm, rm = _mat(left_pdf["lv"]), _mat(right_pdf["v"])
        lids = left_pdf["l_id"].to_numpy(dtype=np.int64)
        rids = right_pdf["n_id"].to_numpy(dtype=np.int64)
        nr = rm.shape[0]
        ln, rn = np.sqrt(_seq_dots(lm, lm)), np.sqrt(_seq_dots(rm, rm))
        out_l, out_n, out_c = [], [], []
        for s, cos in _cos_gram(lm, ln, rm, rn, _chunk_budget):
            e = s + len(cos)
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
    c, ids = _by_id(centroid_vecs, centroid_ids)
    cn = np.sqrt(_seq_dots(c, c))
    take = min(p, len(ids))

    @pandas_udf("array<bigint>")
    def probes(v: pd.Series) -> pd.Series:
        m = _mat(v)
        cos = _cos_matrix(m, np.sqrt(_seq_dots(m, m)), c, cn)
        return pd.Series([ids[np.lexsort((ids, -row))[:take]] for row in cos])

    return probes
