"""Engine write sinks round-trip (parquet/csv/json)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def engine(spark, sf_oracle):
    from iceberg_query_engine_spark.engine import Engine

    eng = Engine(spark)
    eng.register_sf_dir(sf_oracle)
    return eng


Q = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"


def test_write_parquet_roundtrip(engine, tmp_path):
    p = str(tmp_path / "out_parquet")
    engine.write_parquet(Q, p)
    back = engine.spark.read.parquet(p)
    assert back.count() == 25
    assert set(back.columns) == {"n_nationkey", "n_name"}


def test_write_csv_roundtrip(engine, tmp_path):
    p = str(tmp_path / "out_csv")
    engine.write_csv(Q, p)
    back = engine.spark.read.option("header", True).csv(p)
    assert back.count() == 25


def test_write_json_roundtrip(engine, tmp_path):
    p = str(tmp_path / "out_json")
    engine.write_json(Q, p)
    back = engine.spark.read.json(p)
    assert back.count() == 25


def test_stream_foreach_batch_sink(spark, sf_oracle, tmp_path):
    from iceberg_query_engine_spark.streaming.jobs import (
        stream_foreach_batch_to_parquet,
    )

    out = str(tmp_path / "stream_out")
    n_batches = stream_foreach_batch_to_parquet(spark, sf_oracle, out)
    assert n_batches >= 1
    back = spark.read.parquet(out)
    batch_total = spark.read.parquet(f"{sf_oracle}/events.parquet").count()
    assert back.count() == batch_total  # event_ids unique → dedupe is a no-op
    assert "batch_id" in back.columns


def test_stream_runs_remove_their_checkpoints(spark, sf_smoke, tmp_path, monkeypatch):
    """Every streaming run (memory sink in each output mode, and
    foreachBatch) removes its checkpoint once the query has terminated;
    the memory sinks stay readable after it is gone."""
    import os
    import tempfile

    from iceberg_query_engine_spark.streaming import jobs, stateful

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for op in (jobs.stream_tumbling, jobs.stream_dedup, stateful.stream_stateful_counts):
        assert op(spark, sf_smoke).count() > 0
    assert jobs.stream_foreach_batch_to_parquet(spark, sf_smoke, str(tmp_path / "o")) >= 1
    assert os.listdir(tmp_path / "sg_ckpt") == []


def test_write_parquet_partitioned(engine, tmp_path):
    """Hive-style partitioned sink: partition dirs exist and reads are
    partition-pruned (the write-side half of the 100 TB story)."""
    import os

    p = str(tmp_path / "out_part")
    engine.write_parquet(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation",
        p,
        partition_by=["n_regionkey"],
    )
    assert sorted(d for d in os.listdir(p) if d.startswith("n_regionkey=")) == [
        f"n_regionkey={i}" for i in range(5)
    ]
    back = engine.spark.read.parquet(p)
    assert back.count() == 25
    pruned = back.filter("n_regionkey = 2")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(n_regionkey" in plan or "n_regionkey" in plan
    assert pruned.count() == 5


def test_streaming_upsert_sink_multi_batch(spark, tmp_path):
    """The foreachBatch upsert sink must fold increments correctly
    across micro-batches: keys seen in both batches accumulate, keys
    seen once pass through (availableNow on one file yields a single
    batch, so the multi-batch path is driven directly here)."""
    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.sources.iceberg_lite import IcebergLiteTable
    from iceberg_query_engine_spark.streaming.jobs import upsert_user_totals_sink

    path = str(tmp_path / "user_totals")
    sink = upsert_user_totals_sink(path)
    b1 = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0)], ["user_id", "value"]
    )
    b2 = spark.createDataFrame(
        [(2, 2.0), (3, 7.0)], ["user_id", "value"]
    )
    sink(b1, 0)
    sink(b2, 1)
    rows = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in IcebergLiteTable(path).read(spark).collect()
    }
    assert rows == {1: (2, 15.0), 2: (2, 3.0), 3: (1, 7.0)}
