"""One home for size gates and materialisation (materialize.py) and the
one size walker (sources.registry.parquet_bytes).

- release() frees everything a query pinned: one op per family of
  materialisation sites (localCheckpoint in the dedup, similarity and
  operators suites and in operators/rank.py; the ungated ledger
  persist; a persist_if_large frame) leaves 0 persistent RDDs after its
  action and a release, and a rebuild returns the same rows.
- A size the walker cannot tell is None, and each consumer takes its
  documented side: the bucket-count floor, stock session confs.
"""

from __future__ import annotations

import pytest

from iceberg_query_engine_spark import materialize
from iceberg_query_engine_spark import session as S
from iceberg_query_engine_spark.materialize import release
from iceberg_query_engine_spark.operators.rank import ranked_by_range
from iceberg_query_engine_spark.queries import catalog
from iceberg_query_engine_spark.queries.tpch import tables
from iceberg_query_engine_spark.queries.tpch_full import pick_bucket_count
from iceberg_query_engine_spark.sources.registry import parquet_bytes


def _ranked(spark, sf_dir):
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    df, _total = ranked_by_range(
        lineitem.select("l_orderkey", "l_linenumber"),
        ["l_orderkey", "l_linenumber"],
        checkpoint=True,
        small_threshold_bytes=0,  # the range path, which checkpoints
    )
    return df


def _catalog_op(name):
    return lambda spark, sf_dir: catalog.all_queries()[name](spark, sf_dir)


SITES = {
    "dedup_embedding_cosine": _catalog_op("dedup_embedding_cosine"),
    "dedup_clusters": _catalog_op("dedup_clusters"),
    "sim_knn_clusters": _catalog_op("sim_knn_clusters"),
    "dedup_pipeline_resolve": _catalog_op("dedup_pipeline_resolve"),
    "sim_ivf_persist": _catalog_op("sim_ivf_persist"),
    "op_mixture_weights": _catalog_op("op_mixture_weights"),
    "rank_checkpoint": _ranked,
    "persist_if_large": _catalog_op("op_gini"),
}


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _digest(rows) -> list[str]:
    return sorted(repr(tuple(r)) for r in rows)


@pytest.mark.parametrize("site", sorted(SITES))
def test_release_frees_every_pin(spark, sf_smoke, site, monkeypatch):
    if site == "persist_if_large":
        monkeypatch.setattr(materialize, "MATERIALIZE_MIN_BYTES", 0)
    build = SITES[site]
    release()
    first = build(spark, sf_smoke).collect()
    assert _persistent(spark) > 0, "the op pinned nothing; the test proves nothing"
    assert release() > 0
    assert _persistent(spark) == 0
    # nothing a later query needs went with the release
    again = build(spark, sf_smoke).collect()
    release()
    assert _digest(again) == _digest(first)


def test_release_without_a_context_is_a_noop(monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    assert release() == 0


# ------------------------------------------------------------ unknown sizes
def test_walker_counts_parquet_only(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    (d / ".part-0.parquet.crc").write_bytes(b"\0" * 12)
    assert parquet_bytes(str(d)) is None  # sidecars only: unknown, not 0
    assert parquet_bytes(str(tmp_path / "absent")) is None
    (d / "k=1").mkdir()
    (d / "k=1" / "part-0.parquet").write_bytes(b"\0" * 100)
    assert parquet_bytes(str(d)) == 100  # recursive
    assert parquet_bytes(str(d / "k=1" / "part-0.parquet")) == 100
    assert parquet_bytes(str(d / "_SUCCESS")) is None


def test_bucket_count_ignores_sidecars(tmp_path):
    li = tmp_path / "lineitem.parquet"
    li.mkdir()
    # a 19 GB sparse sidecar (no disk used) is not lineitem data: the
    # size is unknown, so the count takes its floor
    with open(li / "_SUCCESS", "wb") as f:
        f.truncate(19 * 1024**3)
    assert pick_bucket_count(str(tmp_path)) == 64


def test_tune_for_corpus_without_parquet_keeps_stock_confs(spark, tmp_path):
    (tmp_path / "_SUCCESS").write_text("")
    assert S.tune_for_corpus(spark, str(tmp_path), cpus=32) == {}
