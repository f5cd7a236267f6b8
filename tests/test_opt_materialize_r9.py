"""r9-opt: size-gated materialization of multiply-referenced derived
frames (materialize.persist_if_large).

Catalyst does not de-duplicate subtrees, so a derived frame referenced
N times re-runs its whole lineage (source scan included) N times.
Above MATERIALIZE_MIN_BYTES of source data the frame is lazily
persisted once; below it, recomputation is cheaper than the
materialization barrier (measured at sf0.1 — the bench keeps the
ungated shape). These tests pin BOTH gate arms:

- the gate fires exactly on the threshold (a module constant),
- every gated operator returns IDENTICAL rows with the gate forced on
  and off (the persisted plan is an optimization, never a semantics
  change),
- the unconditional restructures (op_bloom_semi_join single fact scan,
  op_contract_check single aggregate pass, op_ks_test totals-from-
  counts + window ref-attach) hold their plan shape.
"""

from __future__ import annotations

import pytest

from iceberg_query_engine_spark import materialize
from iceberg_query_engine_spark.materialize import persist_if_large
from iceberg_query_engine_spark.queries import (
    events_suite,
    operators_suite,
    text_suite,
)
from iceberg_query_engine_spark.queries.tpch import tables
from iceberg_query_engine_spark.sources.registry import table_bytes

GATED_OPS = [
    events_suite.ev_concurrency,
    events_suite.ev_dau_wau_mau,
    events_suite.ev_window_funnel,
    operators_suite.op_ks_test,
    operators_suite.op_freq_itemsets,
    operators_suite.op_fuzzy_join,
    operators_suite.op_gini,
    text_suite.text_kl_divergence,
    text_suite.text_tfidf,
]


def test_table_bytes_reads_disk_size(sf_smoke, tmp_path):
    b = table_bytes(sf_smoke, "lineitem")
    assert b is not None and b > 1000
    assert table_bytes(sf_smoke, "no_such_table") is None
    # a directory with no parquet files is unknown, not empty
    (tmp_path / "hollow.parquet").mkdir()
    (tmp_path / "hollow.parquet" / "_SUCCESS").write_text("")
    assert table_bytes(str(tmp_path), "hollow") is None


def test_gate_off_below_threshold(spark, sf_smoke, monkeypatch):
    monkeypatch.setattr(materialize, "MATERIALIZE_MIN_BYTES", 1 << 40)
    (lineitem,) = tables(spark, sf_smoke, "lineitem")
    df = persist_if_large(lineitem.select("l_orderkey"), sf_smoke, "lineitem")
    assert df.storageLevel.useMemory is False  # not persisted


def test_gate_on_above_threshold(spark, sf_smoke, monkeypatch):
    monkeypatch.setattr(materialize, "MATERIALIZE_MIN_BYTES", 1)
    (lineitem,) = tables(spark, sf_smoke, "lineitem")
    df = persist_if_large(lineitem.select("l_orderkey"), sf_smoke, "lineitem")
    try:
        assert df.storageLevel.useMemory is True
    finally:
        df.unpersist()


def test_gate_unknown_source_takes_scale_safe_side(spark, sf_smoke):
    (lineitem,) = tables(spark, sf_smoke, "lineitem")
    df = persist_if_large(
        lineitem.select("l_orderkey"), sf_smoke, "no_such_table"
    )
    try:
        assert df.storageLevel.useMemory is True
    finally:
        df.unpersist()


@pytest.mark.parametrize("op", GATED_OPS, ids=lambda f: f.__name__)
def test_gated_ops_identical_rows_both_arms(spark, sf_smoke, op, monkeypatch):
    monkeypatch.setattr(materialize, "MATERIALIZE_MIN_BYTES", 1 << 40)
    ungated = [tuple(r) for r in op(spark, sf_smoke).collect()]
    monkeypatch.setattr(materialize, "MATERIALIZE_MIN_BYTES", 1)
    try:
        gated_df = op(spark, sf_smoke)
        gated = [tuple(r) for r in gated_df.collect()]
    finally:
        spark.catalog.clearCache()
    assert gated == ungated


@pytest.mark.parametrize("op", GATED_OPS, ids=lambda f: f.__name__)
def test_gated_ops_persist_fires_above_threshold(
    spark, sf_smoke, op, monkeypatch
):
    monkeypatch.setattr(materialize, "MATERIALIZE_MIN_BYTES", 1)
    try:
        plan = op(spark, sf_smoke)._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan, f"{op.__name__}: gate did not fire"
    finally:
        spark.catalog.clearCache()


def test_contract_check_single_aggregate_pass(spark, sf_smoke):
    df = operators_suite.op_contract_check(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = sum(
        "lineitem.parquet" in ln for ln in plan.splitlines() if "Location" in ln
    )
    # executedPlan of an un-run AQE query prints initial plan once
    assert scans == 1, f"expected 1 lineitem scan, saw {scans}"


def test_ks_test_corpus_scans_halved_ungated(spark, sf_smoke, monkeypatch):
    monkeypatch.setattr(materialize, "MATERIALIZE_MIN_BYTES", 1 << 40)
    df = operators_suite.op_ks_test(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = sum(
        "documents.parquet" in ln for ln in plan.splitlines() if "Location" in ln
    )
    # totals derives from counts and the ref ECDF attaches via a window
    # (not a lineage-duplicating self-join): 8 scans before, 4 now
    assert scans <= 4, f"expected <=4 documents scans, saw {scans}"
