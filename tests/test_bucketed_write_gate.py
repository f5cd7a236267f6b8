"""The bucketed write's size gate reads registry.table_bytes; when the
size is unknown it takes its safe side, the shuffle-free write, for
every bucketed fact."""

from __future__ import annotations

import os

from iceberg_query_engine_spark.queries import tpch_full
from iceberg_query_engine_spark.sources import registry


def test_unknown_size_writes_without_shuffle(spark, monkeypatch):
    data_dir = os.path.join(tpch_full.FULL_DATA_ROOT, "sf0.001")
    db = "tpch_gate_unknown"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    def no_repartition(self, *args, **kwargs):
        raise AssertionError("repartition exchange on an unknown-size table")

    monkeypatch.setattr(registry, "table_bytes", lambda sf_dir, name: None)
    monkeypatch.setattr(type(spark.range(1)), "repartition", no_repartition)
    try:
        got = tpch_full.register_catalog_layout(
            spark, data_dir, "gate_unknown", buckets=4, analyze=False
        )
        assert got == db
        for t in sorted(tpch_full.BUCKET_SPECS):
            flat = spark.read.parquet(os.path.join(data_dir, f"{t}.parquet"))
            assert spark.table(f"{db}.{t}").count() == flat.count(), t
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        spark.catalog.setCurrentDatabase("default")
