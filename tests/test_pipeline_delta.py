"""dedup_pipeline_delta invariants — the incremental corpus scrub.

The ledger contract: one row per BATCH doc (doc_id >= t), the same
status vocabulary as dedup_pipeline, replacements strictly decreasing
in doc_id (acyclic chains), and stage-level agreement with the full
rebuild where the rules coincide (the exact stage uses the identical
min-doc_id-per-hash keeper on both paths).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_query_engine_spark.queries.dedup_suite import (
    PIPE_DELTA_SPLIT,
    dedup_pipeline,
    dedup_pipeline_delta,
)
from iceberg_query_engine_spark.queries.tpch import tables

STATUSES = {"eval_split", "exact_dup", "near_dup", "contaminated", "kept"}


@pytest.fixture(scope="module")
def ledger(spark, sf_oracle):
    return dedup_pipeline_delta(spark, sf_oracle).collect()


@pytest.fixture(scope="module")
def split_t(spark, sf_oracle):
    (documents,) = tables(spark, sf_oracle, "documents")
    return int(PIPE_DELTA_SPLIT * documents.count())


def test_one_row_per_batch_doc(spark, sf_oracle, ledger, split_t):
    (documents,) = tables(spark, sf_oracle, "documents")
    n_batch = documents.filter(F.col("doc_id") >= split_t).count()
    assert len(ledger) == n_batch
    assert len({r.doc_id for r in ledger}) == len(ledger)
    assert all(r.doc_id >= split_t for r in ledger)


def test_status_vocabulary_and_replacement_rule(ledger):
    assert {r.status for r in ledger} <= STATUSES
    for r in ledger:
        if r.status in ("exact_dup", "near_dup"):
            assert r.replacement is not None, r
            # keep-old-ids: the replacement is always a SMALLER id, so
            # chains strictly decrease and can never cycle
            assert r.replacement < r.doc_id, r
        else:
            assert r.replacement is None, r


def test_chains_terminate_within_batch(ledger, split_t):
    """Following replacements inside the batch always reaches either an
    existing-corpus doc (id < t — disposed by the prior ledger) or a
    batch doc with a non-dup status."""
    by_id = {r.doc_id: r for r in ledger}
    for r in ledger:
        seen = set()
        cur = r
        while cur.status in ("exact_dup", "near_dup"):
            assert cur.doc_id not in seen, "cycle"
            seen.add(cur.doc_id)
            nxt = cur.replacement
            if nxt < split_t:
                break  # lands in the existing corpus
            cur = by_id[nxt]


def test_exact_stage_agrees_with_full_rebuild(spark, sf_oracle, ledger):
    """Both paths use keeper = MIN(doc_id) per content hash over all
    train docs, so the exact_dup set over batch docs must be identical
    — including the replacement targets."""
    batch_ids = {r.doc_id for r in ledger}
    full = {
        r.doc_id: r
        for r in dedup_pipeline(spark, sf_oracle).collect()
        if r.doc_id in batch_ids
    }
    delta_exact = {
        r.doc_id: r.replacement for r in ledger if r.status == "exact_dup"
    }
    full_exact = {
        d: r.replacement for d, r in full.items() if r.status == "exact_dup"
    }
    assert delta_exact == full_exact


def test_indexed_star_branches_parity_on_overcap_corpus(spark, tmp_path):
    """The indexed delta's batch-sided pair generation (r9: star pairs
    are emitted ONLY for batch members — an over-cap bucket's existing
    membership never pays token refetch or verification) must agree
    bit-for-bit with the stateless form (whose pairs come from the
    rebuild's _pairs_from_bands) on a corpus where the star branches
    actually fire ACROSS the split:

      * family A (identical token set, 330 docs, 30 in the batch) —
        over-cap bucket, batch members pair with the hub (star),
      * family B (A's token set + minima-preserving extras → same band
        keys, J(A,B)≈0.545 < 0.6; 70 docs, 20 in the batch) — batch
        members fail the hub pair and are caught ONLY by their
        identical-set sub-hub (star2),
      * an exact duplicate crossing the split (full-expansion branch),
      * normal docs (kept).
    """
    import os

    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.queries.dedup_suite import (
        _pipeline_delta,
        _pipeline_delta_indexed,
    )
    from tests.test_lsh_skew_bound import _minhash_sig

    base = [f"base{i}" for i in range(30)]
    base_sig = _minhash_sig(base)
    extras, i = [], 0
    while len(extras) < 25:
        tok = f"x{i}"
        i += 1
        if all(s > b for s, b in zip(_minhash_sig([tok]), base_sig)):
            extras.append(tok)
    assert _minhash_sig(base + extras) == base_sig

    import random

    def perm(lst, seed):
        # unique text per doc (30!/55! orderings), identical token SET
        out = list(lst)
        random.Random(seed).shuffle(out)
        return out

    n, t = 600, 540  # split 0.9
    rows = []
    for d in range(300):  # family A, existing
        rows.append((d, "srcA", " ".join(perm(base, d))))
    for d in range(300, 350):  # family B, existing (sub-hub = 300)
        rows.append((d, "srcA", " ".join(perm(base + extras, d))))
    for d in range(350, 536):  # normal existing
        rows.append((d, "srcA", " ".join(f"w{d}_{j}" for j in range(30))))
    for d in range(536, 540):  # existing eval docs → non-empty eval store
        rows.append((d, "src0", " ".join(f"e{d}_{j}" for j in range(30))))
    for d in range(540, 570):  # family A, batch → near_dup rep 0 (star)
        rows.append((d, "srcA", " ".join(perm(base, d))))
    for d in range(570, 590):  # family B, batch → near_dup rep 300 (star2)
        rows.append((d, "srcA", " ".join(perm(base + extras, d))))
    rows.append((590, "srcA", rows[350][2]))  # exact dup of doc 350
    for d in range(591, 595):  # normal batch → kept
        rows.append((d, "srcA", " ".join(f"w{d}_{j}" for j in range(30))))
    for d in range(595, 600):  # eval split
        rows.append((d, "src0", " ".join(f"e{d}_{j}" for j in range(30))))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    docs.coalesce(2).write.mode("overwrite").parquet(
        os.path.join(tmp_path, "documents.parquet")
    )

    idx_dir = str(tmp_path / "idx")
    indexed = _pipeline_delta_indexed(
        spark, str(tmp_path), 0.9, index_dir=idx_dir
    ).collect()
    stateless = _pipeline_delta(spark, str(tmp_path), 0.9).collect()
    assert [tuple(r) for r in indexed] == [tuple(r) for r in stateless]

    by_id = {r.doc_id: r for r in indexed}
    for d in range(540, 570):  # star: hub = doc 0
        assert (by_id[d].status, by_id[d].replacement) == ("near_dup", 0), d
    for d in range(570, 590):  # star2: sub-hub = doc 300 (hub pair fails)
        assert (by_id[d].status, by_id[d].replacement) == ("near_dup", 300), d
    assert (by_id[590].status, by_id[590].replacement) == ("exact_dup", 350)
    for d in range(591, 595):
        assert by_id[d].status == "kept", by_id[d]
    for d in range(595, 600):
        assert by_id[d].status == "eval_split"

    # pruned-path parity: a 2-doc batch engages the static pruning gate
    # (batch_docs * n_bands <= nb // 2 at nb = 16) — same ledger from
    # pruned directory reads
    pruned = _pipeline_delta_indexed(
        spark, str(tmp_path), 1.0 - 2 / n, index_dir=str(tmp_path / "idx2")
    ).collect()
    control = _pipeline_delta(spark, str(tmp_path), 1.0 - 2 / n).collect()
    assert [tuple(r) for r in pruned] == [tuple(r) for r in control]


def test_indexed_twin_bit_parity_and_index_reuse(spark, sf_oracle, tmp_path):
    """dedup_pipeline_delta_indexed must produce the identical ledger
    from its stored index (it shares the stateless twin's oracle), the
    index must land under the caller's index_dir, and a second call
    must REUSE it (no rebuild)."""
    import glob
    import os

    from iceberg_query_engine_spark import materialize
    from iceberg_query_engine_spark.queries.dedup_suite import (
        _pipeline_delta_indexed,
        dedup_pipeline_delta,
    )

    idx_parent = str(tmp_path / "idx")
    indexed = _pipeline_delta_indexed(
        spark, sf_oracle, PIPE_DELTA_SPLIT, index_dir=idx_parent
    ).collect()
    stateless = dedup_pipeline_delta(spark, sf_oracle).collect()
    assert [tuple(r) for r in indexed] == [tuple(r) for r in stateless]
    # the op alone built exactly one complete store under idx_parent
    stores = glob.glob(
        os.path.join(
            idx_parent, "spark_graft_store", "*", "*", "*", materialize.SENTINEL
        )
    )
    assert len(stores) == 1, stores
    built = os.path.dirname(stores[0])
    assert os.listdir(os.path.dirname(built)) == [os.path.basename(built)]
    marker = os.path.join(built, "hashes")
    mtime = os.path.getmtime(marker)
    again = _pipeline_delta_indexed(
        spark, sf_oracle, PIPE_DELTA_SPLIT, index_dir=idx_parent
    ).collect()
    assert os.path.getmtime(marker) == mtime, "index was rebuilt on reuse"
    assert [tuple(r) for r in again] == [tuple(r) for r in stateless]


def test_pipeline_resolve_invariants(spark, sf_oracle):
    """dedup_pipeline_resolve: final_status is never a dup status, the
    final_doc's own ledger status equals final_status, non-dup rows
    resolve to themselves at 0 hops, and hops ≤ 2."""
    from iceberg_query_engine_spark.queries.dedup_suite import (
        dedup_pipeline,
        dedup_pipeline_resolve,
    )

    led = {r.doc_id: r for r in dedup_pipeline(spark, sf_oracle).collect()}
    res = dedup_pipeline_resolve(spark, sf_oracle).collect()
    assert len(res) == len(led)
    for r in res:
        assert r.final_status not in ("exact_dup", "near_dup"), r
        assert 0 <= r.hops <= 2, r
        assert led[r.final_doc].status == r.final_status, r
        if r.status not in ("exact_dup", "near_dup"):
            assert r.final_doc == r.doc_id and r.hops == 0, r
        else:
            # the pipeline elects the LONGEST doc as near-dup rep, so
            # the final doc can be a larger id — only self-resolution
            # is excluded for dup rows (chains still terminate: the
            # ledger's ≤2-hop property is asserted via hops above)
            assert r.final_doc != r.doc_id, r


def test_exact_dups_share_content_hash(spark, sf_oracle, ledger):
    (documents,) = tables(spark, sf_oracle, "documents")
    fp = {
        r.doc_id: r.h
        for r in documents.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
        ).collect()
    }
    for r in ledger:
        if r.status == "exact_dup":
            assert fp[r.doc_id] == fp[r.replacement], r
