"""Size-aware session tuning (r4 verdict #2): the sf10-winning config
lives in session.tune_for_corpus so any session inherits it by input
size, not just the bench harness. And the session caches its whole
generated-class working set: a warm op compiles nothing new after other
ops ran in between, where Spark's default 100-entry cache would have
evicted its classes."""

from __future__ import annotations

from iceberg_query_engine_spark import session as S
from iceberg_query_engine_spark.queries import catalog


def test_corpus_bytes_counts_parquet(sf_oracle):
    n = S.parquet_bytes(sf_oracle)
    assert n > 100_000  # sf0.01 corpus is several MB of parquet


def test_small_corpus_untouched(spark, sf_oracle):
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    applied = S.tune_for_corpus(spark, sf_oracle)
    # sub-GB corpus: stock confs already behave right (measured: firing
    # blooms on ~10 MB scans costs more than it saves) — no changes
    assert applied == {}
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_large_corpus_engages_all_levers(spark, sf_oracle, monkeypatch):
    monkeypatch.setattr(S, "parquet_bytes", lambda d: 20 << 30)  # pretend 20 GB
    applied = S.tune_for_corpus(spark, sf_oracle, cpus=32)
    try:
        assert applied["spark.sql.autoBroadcastJoinThreshold"] == str(64 * 1024 * 1024)
        assert applied["spark.sql.shuffle.partitions"] == "64"
        # ~5% of 20 GB = 1 GB
        assert applied[
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ] == str(max((20 << 30) // 20, 64 * 1024 * 1024))
        # Creation side must stay at Spark's stock 10 MB: scaling it
        # with the corpus admitted fact-rescan blooms (sf100's 69x q14).
        assert (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
            not in applied
        )
        # scan-split lever: ~3 splits/core over the largest table
        # ((20 GB * 2/5) / 96 ≈ 85 MB, inside the [16M,128M] clamp)
        assert applied["spark.sql.files.maxPartitionBytes"] == str(
            ((20 << 30) * 2 // 5) // 96
        )
    finally:  # restore test-session confs
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_sf10_corpus_floors_split_at_16m(spark, sf_oracle, monkeypatch):
    """sf10 (~2.5 GB corpus): the 3-splits-per-core target lands below
    the 16 MB floor — 1.9 GB lineitem / 16 MB ≈ 120 scan tasks instead
    of the stock ~15, so q1/q6 use all 32 cores."""
    monkeypatch.setattr(S, "parquet_bytes", lambda d: int(2.5 * (1 << 30)))
    applied = S.tune_for_corpus(spark, sf_oracle, cpus=32)
    try:
        assert applied["spark.sql.files.maxPartitionBytes"] == str(16 * 1024 * 1024)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


# In a fresh JVM at sf0.001 these compile 87 + 57 + 35 classes, more
# than Spark's default cache of 100 holds: at 100 entries the rerun of
# the first op recompiles 79 of its 87 classes.
CYCLE = ("dedup_clusters", "dedup_minhash_lsh", "text_tfidf")


def test_fixture_session_carries_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        S.CODEGEN_CACHE_ENTRIES
    )


def test_warm_op_recompiles_nothing_after_a_cycle(spark, sf_smoke):
    ops = catalog.all_queries()

    def compiles(name: str) -> int:
        before, _ = S.codegen_counts(spark)
        ops[name](spark, sf_smoke).collect()
        return S.codegen_counts(spark)[0] - before

    for name in CYCLE:
        compiles(name)
    assert compiles(CYCLE[0]) <= 5
