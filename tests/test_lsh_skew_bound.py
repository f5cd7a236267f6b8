"""LSH banding under pathological skew: over-cap buckets STAR-expand —
bounded task work AND the boilerplate family is caught (r8 verdict,
Next round #5 + the r9 mitigation; companion of
`git show b72b397:data/exp_dedup_skew_r9.py`, which measures the same
at 200k docs).

A boilerplate family — identical token SET, rotated order, so every
member lands in the SAME band buckets but is not an exact dup — is the
adversarial real-crawl case: with full expansion one bucket of f docs
is f(f-1)/2 verified pairs in ONE task. The contract under test:

  1. over-cap buckets produce exactly hub-star pairs: O(bn) per
     bucket, never C(bn,2) — the family expands linearly,
  2. the star expansion is NOT silent — the observe metric reports the
     star-capped band rows,
  3. the family IS caught: every member pairs with the hub at J=1.0,
     so dedup_clusters-style consumers collapse it to one component
     (previously the bucket was dropped and all f docs sailed through),
  4. docs outside over-cap buckets are unaffected.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from iceberg_query_engine_spark.queries.dedup_suite import (
    CLUSTER_BAND_SIZE,
    CLUSTER_CAP,
    N_HASHES,
    _lsh_candidate_pairs,
)

N_FAMILY = 400  # one boilerplate family, 16x the cap
N_NORMAL = 200
N_BANDS = N_HASHES // CLUSTER_BAND_SIZE


@pytest.fixture(scope="module")
def skew_docs(spark):
    base = spark.range(N_FAMILY + N_NORMAL).select(F.col("id").alias("doc_id"))
    boiler_base = F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.concat(F.lit("boiler"), i),
    )
    rot = (F.col("doc_id") % 30).cast("int") + 1
    boiler = F.concat(
        F.slice(boiler_base, rot, F.lit(30)),
        F.slice(boiler_base, F.lit(1), rot - 1),
    )
    normal = F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("doc_id") * 100 + i), F.lit(5000))
        ),
    )
    toks = F.when(F.col("doc_id") < N_FAMILY, boiler).otherwise(normal)
    return base.select(
        "doc_id",
        F.lit("srcX").alias("source"),
        F.array_join(toks, " ").alias("text"),
    ).localCheckpoint()


def test_star_bounds_family_and_reports(spark, skew_docs):
    obs = Observation("skew_cap_test")
    pairs = _lsh_candidate_pairs(
        skew_docs, CLUSTER_BAND_SIZE, CLUSTER_CAP, observation=obs
    )
    fam = (
        pairs.filter(
            (F.col("a.doc_id") < N_FAMILY) & (F.col("b.doc_id") < N_FAMILY)
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
        .collect()
    )
    m = obs.get
    # identical token set -> identical signature -> the family fills the
    # same N_BANDS buckets, all 16x over the cap: every family band row
    # is star-capped and visible
    assert m["rows_star_capped"] >= N_FAMILY * N_BANDS
    # linear, not quadratic: exactly hub->member pairs, hub = min id (0)
    assert len(fam) == N_FAMILY - 1
    assert all(a == 0 and 0 < b < N_FAMILY for a, b in fam)
    # J(member, hub) = 1.0 (same token set): all pairs verify -> the
    # family collapses into one cluster downstream instead of escaping


def _minhash_sig(tokens):
    """Python twin of the salted-md5 minhash signature (8 values)."""
    import hashlib

    sig = []
    for i in range(8):
        salt, piece = divmod(i, 4)
        sig.append(
            min(
                hashlib.md5(f"{t}#{salt}".encode()).hexdigest()[
                    8 * piece : 8 * piece + 8
                ]
                for t in tokens
            )
        )
    return sig


def test_two_level_star_catches_hub_dissimilar_subfamily(spark):
    """One over-cap bucket holding TWO subfamilies: A (base token set)
    and B (A ∪ 25 extras whose salted-md5 slices never undercut A's
    minima, so B's minhash signature — hence every band key — equals
    A's). J(A,B) = 30/55 ≈ 0.545 < 0.6: B members FAIL verification
    against the bucket hub (an A doc). The second star level pairs
    each B member with its identical-set SUB-hub at J=1.0 — the
    subfamily is caught instead of escaping through the hub's
    dissimilarity."""
    base = [f"base{i}" for i in range(30)]
    base_sig = _minhash_sig(base)
    extras, i = [], 0
    while len(extras) < 25:
        t = f"x{i}"
        i += 1
        sig = _minhash_sig([t])
        if all(s > b for s, b in zip(sig, base_sig)):
            extras.append(t)
    assert _minhash_sig(base + extras) == base_sig  # same band keys

    n_a, n_b = 300, 100
    rows = []
    for d in range(n_a):  # family A: permutations of base
        rot = d % 30
        rows.append((d, "srcX", " ".join(base[rot:] + base[:rot])))
    for j in range(n_b):  # family B: base + extras, permuted
        toks = base + extras
        rot = j % 55
        rows.append((n_a + j, "srcX", " ".join(toks[rot:] + toks[:rot])))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    pairs = _lsh_candidate_pairs(docs, CLUSTER_BAND_SIZE, CLUSTER_CAP)
    got = pairs.select(
        F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
    ).distinct().collect()
    # sub-hub pairs: every B member pairs with B's min doc (n_a) —
    # these verify at J=1.0 downstream; hub pairs (a_id=0) verify at
    # 0.545 and fail, so WITHOUT the second level B would escape
    b_sub = {(a, b) for a, b in ((r.a_id, r.b_id) for r in got) if a == n_a}
    assert b_sub == {(n_a, n_a + j) for j in range(1, n_b)}
    # linearity: candidates stay O(members), never C(400, 2)
    assert len(got) < 2 * (n_a + n_b)


def test_docs_outside_overcap_buckets_unaffected(spark, skew_docs):
    """Candidates among normal docs are identical with and without the
    family present — the star cap is local to the hot buckets."""
    normal_only = skew_docs.filter(F.col("doc_id") >= N_FAMILY)
    with_family = _lsh_candidate_pairs(
        skew_docs, CLUSTER_BAND_SIZE, CLUSTER_CAP
    ).filter((F.col("a.doc_id") >= N_FAMILY) & (F.col("b.doc_id") >= N_FAMILY))
    without = _lsh_candidate_pairs(normal_only, CLUSTER_BAND_SIZE, CLUSTER_CAP)
    got = sorted(
        (r["a"]["doc_id"], r["b"]["doc_id"]) for r in with_family.collect()
    )
    want = sorted(
        (r["a"]["doc_id"], r["b"]["doc_id"]) for r in without.collect()
    )
    assert got == want
