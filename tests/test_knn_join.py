"""Blocked exact k-NN join: grid-shape invariance and kernel edges.

The oracle row (tests/test_suites_oracle.py::sim_knn_join) proves the
default path against DuckDB's all-pairs window; these tests prove the
BLOCKING is semantics-free — any (L, R) grid returns bit-identical
results — and pin the merge window's partitioning.
"""

from __future__ import annotations

import pytest

from iceberg_query_engine_spark.plans import introspect as pi
from iceberg_query_engine_spark.queries.similarity_suite import _knn_join

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def base(spark):
    return _knn_join(spark, SF, grid=(1, 1)).collect()


@pytest.mark.parametrize("grid", [(2, 2), (3, 2), (1, 5), (7, 1), (4, 4)])
def test_grid_shape_invariance(spark, base, grid):
    assert _knn_join(spark, SF, grid=grid).collect() == base


def test_every_vector_gets_k_neighbors(base):
    from collections import Counter

    per_left = Counter(r.l_id for r in base)
    assert set(per_left.values()) == {3}  # KNN_JOIN_K
    assert all(r.l_id != r.n_id for r in base)  # no self-matches


def test_merge_window_is_partitioned(spark):
    df = _knn_join(spark, SF, grid=(2, 2))
    assert pi.unpartitioned_windows(df) == []


def test_k_parameter(spark):
    out = _knn_join(spark, SF, grid=(2, 3), k=1).collect()
    assert len(out) == 500 and all(r.rk == 1 for r in out)


def test_auto_grid_multiblock_alignment(spark, tmp_path):
    """12k generated vectors → the auto grid picks >1 block per side;
    results must be bit-identical to the 1×1 grid. Regression: the
    block keys once had mismatched types between the two cogroup
    sides ((bigint, int) vs (int, bigint)), which silently produced
    disjoint one-sided groups — ZERO output rows — at 50k vectors
    while every toy-scale run aligned by luck."""
    from iceberg_query_engine_spark.sources.generator import generate_tpch

    d = str(tmp_path / "gen")
    generate_tpch(spark, 0.24, d, single_file=True, only={"embeddings"})
    auto = _knn_join(spark, d).collect()
    assert len(auto) == 12000 * 3  # every vector got k neighbors
    assert auto == _knn_join(spark, d, grid=(1, 1)).collect()


def test_cc_labels_deep_diameter_graph_converges(spark, monkeypatch):
    """Regression: per-round Dataset checkpoints on pyspark 4.1.2 fail
    to sever the recomputation chain, so CC rounds grew ~3× per round
    and wedged the driver after ~18 rounds (first hit by the
    mutual-kNN graph at 50k vectors). cc_labels now spills deep rounds
    to parquet; a 3000-node path graph (diameter 3000 → ~12+
    pointer-jump rounds) must converge to a single component in
    reasonable time."""
    import time

    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.queries import dedup_suite
    from iceberg_query_engine_spark.queries.dedup_suite import cc_labels

    n = 3000
    base = spark.range(n - 1)
    edges = base.select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).union(
        base.select((F.col("id") + 1).alias("src"), F.col("id").alias("dst"))
    )
    t0 = time.perf_counter()
    # a 0 gate forces the DISTRIBUTED rounds — the machinery under
    # regression here (the toy-size gate would otherwise route this
    # 6k-edge graph to the local union-find)
    monkeypatch.setattr(dedup_suite, "CC_LOCAL_EDGE_GATE", 0)
    labels = cc_labels(edges)
    out = labels.agg(
        F.count_distinct("label").alias("n"), F.min("label").alias("m")
    ).collect()[0]
    assert (out.n, out.m) == (1, 0)  # one component rooted at node 0
    assert time.perf_counter() - t0 < 120  # the old code never finished


def test_cc_labels_local_gate_bit_parity(spark, monkeypatch):
    """The toy-size local union-find and the distributed rounds must
    be bit-identical on arbitrary symmetric graphs (same contract as
    the rank.py gate: results never depend on which path ran)."""
    import random

    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.queries import dedup_suite
    from iceberg_query_engine_spark.queries.dedup_suite import cc_labels

    rng = random.Random(8)
    pairs = {(rng.randrange(500), rng.randrange(500)) for _ in range(400)}
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    local = sorted(map(tuple, cc_labels(edges).collect()))
    monkeypatch.setattr(dedup_suite, "CC_LOCAL_EDGE_GATE", 0)
    dist = sorted(map(tuple, cc_labels(edges).collect()))
    assert local == dist and len(local) > 0


# -- cc_labels spill dirs: created lazily (shallow graphs touch no disk)
# and removed at convergence, so repeated calls leave no cc_labels_* trees


def _cc_dirs() -> set[str]:
    import os
    import tempfile

    root = tempfile.gettempdir()
    return {d for d in os.listdir(root) if d.startswith("cc_labels_")}


def test_cc_labels_shallow_graph_creates_no_spill_dir(spark, monkeypatch):
    from iceberg_query_engine_spark.queries import dedup_suite
    from iceberg_query_engine_spark.queries.dedup_suite import cc_labels

    monkeypatch.setattr(dedup_suite, "CC_LOCAL_EDGE_GATE", 0)

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (4, 3)], "src long, dst long"
    )
    before = _cc_dirs()
    assert cc_labels(edges).count() == 4
    assert _cc_dirs() == before


def test_cc_labels_deep_graph_cleans_up_spill_dir(spark, monkeypatch):
    """A path graph deep enough to cross the parquet-spill threshold
    must leave no cc_labels_* tree behind — and still converge right."""
    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.queries import dedup_suite
    from iceberg_query_engine_spark.queries.dedup_suite import cc_labels

    n = 3000  # ~log2 diameter rounds with pointer jumping > 12 spill rounds
    chain = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long"
    )
    before = _cc_dirs()
    # force the DISTRIBUTED path: the spill lifecycle under test never
    # engages on the local union-find the toy-size gate would pick
    monkeypatch.setattr(dedup_suite, "CC_LOCAL_EDGE_GATE", 0)
    labels = cc_labels(edges)
    # single component labeled by its minimum, readable AFTER cleanup
    assert labels.filter(F.col("label") != 0).count() == 0
    assert labels.count() == n
    assert _cc_dirs() == before


# -- cross-corpus (A→B) join: asymmetric-grid invariance + disjointness


@pytest.fixture(scope="module")
def ab_base(spark):
    from iceberg_query_engine_spark.queries.similarity_suite import (
        AB_QUERY_LABELS,
        _as_double,
        _knn_join_frames,
    )
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )
    a = e.filter(F.col("label").isin(*AB_QUERY_LABELS)).drop("label")
    b = e.filter(~F.col("label").isin(*AB_QUERY_LABELS)).drop("label")
    return a, b, _knn_join_frames(a, b, 1, 1).collect()


@pytest.mark.parametrize("grid", [(3, 2), (1, 6), (5, 1)])
def test_ab_asymmetric_grid_invariance(spark, ab_base, grid):
    from iceberg_query_engine_spark.queries.similarity_suite import (
        _knn_join_frames,
    )

    a, b, base = ab_base
    assert _knn_join_frames(a, b, *grid).collect() == base


def test_ab_sides_are_disjoint(spark, ab_base):
    a, b, base = ab_base
    a_ids = {r.vec_id for r in a.select("vec_id").collect()}
    # every neighbor comes from corpus B, every query from corpus A
    assert all(r.l_id in a_ids and r.n_id not in a_ids for r in base)
