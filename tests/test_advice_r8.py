"""Regression tests for the round-8 ADVICE findings.

1. (medium) the stored kNN delta index must key on a CONTENT
   fingerprint of the embeddings table — a regenerated dataset at the
   same path/row count must invalidate the cache, never silently serve
   stale neighbors; superseded fingerprint dirs are reclaimed; and the
   index location is caller-parameterizable (index_dir, mirroring
   cc_labels' cc_spill_dir).
2. (low) index completion is gated on an `_INDEX_SUCCESS` sentinel
   written LAST — a crash between the members and centroids writes
   leaves a dir that fails the gate and is rebuilt, not half-read.
3. (low) upsert_snapshot on a table that HAS snapshots but ZERO live
   data files (all rows deleted, then compacted away) must not crash:
   schema v0 is written when the table is created, so the upsert needs
   no live data file to resolve its key columns.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def mini_sf(spark, tmp_path, sf_smoke):
    """A private copy of the smoke embeddings table we can regenerate."""
    d = str(tmp_path / "sf")
    os.makedirs(d)
    src = os.path.join(sf_smoke, "embeddings.parquet")
    dst = os.path.join(d, "embeddings.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    return d


def test_delta_index_custom_dir_used_and_reused(spark, tmp_path, mini_sf):
    from iceberg_query_engine_spark.queries import similarity_suite as sim

    idx_parent = str(tmp_path / "idx")
    p1 = sim._knn_delta_index_dir(spark, mini_sf, 40, index_dir=idx_parent)
    assert p1.startswith(idx_parent)
    assert os.path.exists(os.path.join(p1, "_INDEX_SUCCESS"))
    assert os.path.exists(os.path.join(p1, "members", "_SUCCESS"))
    assert os.path.exists(os.path.join(p1, "centroids"))
    # second call reuses: no rebuild (members dir mtime set unchanged)
    before = set(os.listdir(os.path.join(p1, "members")))
    p2 = sim._knn_delta_index_dir(spark, mini_sf, 40, index_dir=idx_parent)
    assert p2 == p1
    assert set(os.listdir(os.path.join(p1, "members"))) == before
    # the full op accepts the override end-to-end
    out = sim._knn_graph_delta_indexed(spark, mini_sf, 0.9, index_dir=idx_parent)
    assert out.count() > 0


def test_delta_index_invalidated_by_content_fingerprint(spark, tmp_path, mini_sf):
    from iceberg_query_engine_spark.queries import similarity_suite as sim

    idx_parent = str(tmp_path / "idx")
    p1 = sim._knn_delta_index_dir(spark, mini_sf, 40, index_dir=idx_parent)
    # simulate dataset regeneration at the same path + row count: bump
    # the parquet files' mtimes (content fingerprint = name|size|mtime)
    emb = os.path.join(mini_sf, "embeddings.parquet")
    files = (
        [os.path.join(emb, f) for f in os.listdir(emb)]
        if os.path.isdir(emb)
        else [emb]
    )
    for fp in files:
        st = os.stat(fp)
        os.utime(fp, ns=(st.st_atime_ns, st.st_mtime_ns + 10_000_000_000))
    p2 = sim._knn_delta_index_dir(spark, mini_sf, 40, index_dir=idx_parent)
    assert p2 != p1, "regenerated data must not serve the stale index"
    # the superseded fingerprint's dir was reclaimed — no accumulation
    assert os.listdir(os.path.dirname(p2)) == [os.path.basename(p2)]


def test_delta_index_partial_build_rebuilt(spark, tmp_path, mini_sf):
    from iceberg_query_engine_spark.queries import similarity_suite as sim

    idx_parent = str(tmp_path / "idx")
    p1 = sim._knn_delta_index_dir(spark, mini_sf, 40, index_dir=idx_parent)
    # simulate a crash between the members and centroids writes: the
    # members table exists (with its own _SUCCESS) but the index-level
    # sentinel is gone and centroids is partial/missing
    os.remove(os.path.join(p1, "_INDEX_SUCCESS"))
    shutil.rmtree(os.path.join(p1, "centroids"))
    p2 = sim._knn_delta_index_dir(spark, mini_sf, 40, index_dir=idx_parent)
    assert p2 == p1
    assert os.path.exists(os.path.join(p2, "_INDEX_SUCCESS"))
    assert os.path.exists(os.path.join(p2, "centroids"))
    rows = spark.read.parquet(os.path.join(p2, "centroids")).count()
    assert rows > 0


def test_upsert_on_table_with_snapshots_but_no_live_files(spark, tmp_path):
    from iceberg_query_engine_spark.sources.iceberg_lite import (
        IcebergLiteTable,
        compact,
        upsert_snapshot,
        write_equality_deletes,
        write_snapshot,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    write_snapshot(df, path)
    # delete every row, then compact the emptiness into the current state
    write_equality_deletes(spark, path, df.select("k"), ["k"])
    compact(spark, path)
    t = IcebergLiteTable(path)
    assert t.current_snapshot_id() is not None
    if t.data_files():
        # this build's compact materializes an empty data file; force
        # the zero-live-files state the ADVICE describes with an empty
        # REPLACE commit (the same manifest shape compact produces)
        from iceberg_query_engine_spark.sources.iceberg_lite import (
            _append_snapshot_files,
        )

        _append_snapshot_files(path, [], "data", "replace", replace=True)
        t = IcebergLiteTable(path)
        assert not t.data_files()
    # the r8 ADVICE crash: deriving v0 from a live data file raised
    # 'cannot evolve schema of empty table'; v0 now exists from the
    # table's first commit
    up = spark.createDataFrame([(3, 30)], "k long, v long")
    upsert_snapshot(spark, path, up, key_columns=["k"])
    got = IcebergLiteTable(path).read(spark).collect()
    assert sorted((r.k, r.v) for r in got) == [(3, 30)]
